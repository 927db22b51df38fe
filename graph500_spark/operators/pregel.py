"""Generic Pregel-style superstep engine over DataFrames.

The reference's BFS driver loop (/root/reference/mpi/bfs.hpp:2702-2911)
is exactly Pregel's model — level-synchronous iteration with a global
barrier per superstep (SURVEY.md §2.7). The engine's traversals
(operators/bfs.py, sssp.py, components.py, pagerank.py) run that loop
with the same three scale disciplines — bfs.py and sssp.py as one
keyed loop each, shared by their single-root and batched entry
points, the others as their own specialized loops; this module
exposes the loop itself as an API so users can write new vertex
programs without re-deriving them:

  1. per-superstep localCheckpoint → O(1) plan depth regardless of
     superstep count (never exponential lineage);
  2. driver-known vertex-state counts drive explicit broadcast hints
     (loop state carries no Catalyst stats, so AQE alone would shuffle
     the full edge table every round);
  3. superseded round state is unpersisted so cached blocks stay O(1).

A vertex program supplies:
  * `vertices`: initial state DataFrame [vertex, <state cols>];
  * `send(edges_with_state) -> DataFrame[vertex, <msg cols>]`:
    messages from each edge given the source's state (input columns:
    src, dst, edge cols, and the source's state cols);
  * `merge: list[Column]` aggregate expressions combining messages
    per destination vertex;
  * `apply(old, inbox) -> DataFrame[vertex, <state cols>]`: join of
    previous state with merged inbox → next state.

Termination: fixed `n_supersteps`, or `until_unchanged=True` to stop
when the state DataFrame reaches a fixpoint (compared by except-count,
one extra job per round — the analog of the reference's
`global_nq_size == 0` check).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from graph500_spark.functions.confscope import scoped_session_confs
from graph500_spark.functions.plantrunc import truncate_plan_lazy
from graph500_spark.functions.sizing import resolve_shuffle_partitions


def pregel(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame,
    send: Callable[[DataFrame], DataFrame],
    merge: Sequence[Column],
    apply_fn: Callable[[DataFrame, DataFrame], DataFrame],
    n_supersteps: int = 10,
    until_unchanged: bool = False,
    broadcast_rows: int = 2_000_000,
    shuffle_partitions: int | str | None = "auto",
    edge_count: int | None = None,
) -> DataFrame:
    """Run the superstep loop and return the final vertex-state
    DataFrame (a checkpoint leaf). ``shuffle_partitions="auto"``
    applies the ~2M-rows/partition rule (functions/sizing.py) from
    ``edge_count`` when given, else from a count of the cached edge
    table (whose materialization the first superstep pays anyway);
    the override engages only above the session width."""
    # The edge table is stationary across supersteps — cache it so the
    # upstream construction doesn't re-execute per round.
    edges = edges.persist()
    sp_override = resolve_shuffle_partitions(
        spark, shuffle_partitions, edge_count, edges.count
    )
    with scoped_session_confs(
        spark, {"spark.sql.shuffle.partitions": sp_override}
    ):
        # lazy checkpoint + count = one driver barrier (guide §1.2/§5)
        state = vertices.transform(truncate_plan_lazy)
        n_state = state.count()
        for _ in range(n_supersteps):
            src_state = state.withColumnRenamed("vertex", "src")
            if n_state <= broadcast_rows:
                src_state = F.broadcast(src_state)
            inbox = (
                send(edges.join(src_state, "src"))
                .groupBy("vertex")
                .agg(*merge)
            )
            # lazy checkpoint: the per-superstep readout below (count
            # or fixpoint probe) materializes the new state in the
            # SAME job — one driver barrier per superstep, not two.
            new_state = apply_fn(state, inbox).transform(
                truncate_plan_lazy
            )
            if until_unchanged:
                # Fixpoint test on exact state equality. Both sides are
                # checkpoint leaves, and the state count rides along as
                # a 1-row cross join so the readout is ONE job per
                # superstep instead of two (driver barriers are the
                # per-superstep floor at every scale).
                row = (
                    new_state.agg(F.count(F.lit(1)).alias("n"))
                    .crossJoin(
                        new_state.exceptAll(state)
                        .limit(1)
                        .agg(F.count(F.lit(1)).alias("chg"))
                    )
                    .first()
                )
                changed = row["chg"]
                n_state = row["n"]
                old = state
                state = new_state
                old.unpersist()
                if changed == 0:
                    break
            else:
                n_state = new_state.count()
                old = state
                state = new_state
                old.unpersist()
    edges.unpersist()
    return state


def label_propagation(
    spark: SparkSession,
    edges_clean: DataFrame,
    n_supersteps: int = 5,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """[vertex, label] after `n_supersteps` of synchronous max-label
    propagation (label₀ = vertex id; labelₜ₊₁ = max(labelₜ, max
    neighbor labelₜ)) — the deterministic fixed-round variant, so a
    DuckDB oracle can unroll it (plans/queries.py::label_propagation_sql).
    Converges to label = max vertex id of the connected component —
    the max-dual of operators/components.py, expressed as a Pregel
    vertex program to exercise the generic loop."""
    verts = (
        edges_clean.select(F.col("src").alias("vertex"))
        .distinct()
        .withColumn("label", F.col("vertex"))
    )

    def send(edges_with_state: DataFrame) -> DataFrame:
        return edges_with_state.select(
            F.col("dst").alias("vertex"), F.col("label").alias("msg")
        )

    def apply_fn(old: DataFrame, inbox: DataFrame) -> DataFrame:
        return (
            old.join(inbox, "vertex", "left")
            .select(
                "vertex",
                F.greatest(
                    "label", F.coalesce("max_msg", F.col("label"))
                ).alias("label"),
            )
        )

    return pregel(
        spark,
        edges_clean.select("src", "dst"),
        verts,
        send,
        [F.max("msg").alias("max_msg")],
        apply_fn,
        n_supersteps=n_supersteps,
        shuffle_partitions=shuffle_partitions,
    )
