"""Generic Pregel-style superstep engine over DataFrames: the one
fixpoint loop for vertex programs.

The reference's BFS driver loop (/root/reference/mpi/bfs.hpp:2702-2911)
is exactly Pregel's model — level-synchronous iteration with a global
barrier per superstep (SURVEY.md §2.7). This module exposes that loop
as an API, so a vertex program is a send, a merge and an apply, and
the scale disciplines live here once:

  1. per-superstep lazy localCheckpoint → O(1) plan depth regardless
     of superstep count, materialized by the superstep's own readout
     (one driver barrier per superstep);
  2. driver-known counts drive explicit broadcast hints on the
     sending side, under the engine's one threshold
     (``functions/sizing.py``; loop state carries no Catalyst stats,
     so AQE alone would shuffle the full edge table every round);
  3. superseded round state is dropped by rebinding, so the
     ContextCleaner reclaims its blocks and cached state stays O(1);
  4. the stationary edge table is held by ``cached`` (one owner: a
     caller's cache of the same plan is reused and kept, and a failed
     job releases what the loop persisted).

A vertex program supplies:
  * `vertices`: initial state DataFrame [*key, vertex, <state cols>];
  * `send(edges_with_state) -> DataFrame[*key, vertex, <msg cols>]`:
    messages from each edge given the source's state (input columns:
    src, dst, edge cols, and the source's key and state cols);
  * `merge: list[Column]` aggregate expressions combining messages
    per destination (`[*key, "vertex"]`);
  * `apply(old, inbox) -> DataFrame[*key, vertex, <state cols>, chg]`:
    join of previous state with merged inbox → next state, plus a
    boolean `chg` that is true exactly where the vertex's state
    changed.

`key` names the columns that tell independent programs apart, as in
`bfs._bfs_levels`: `[]` (the default) keys the state by vertex alone;
`sssp.sssp_multi` runs one shortest-path tree per `["source"]` value
in one loop, sharing each superstep's job, and the trees never
interact because the inbox groups on `[*key, "vertex"]`.

Stop rule: each superstep reads `count` and `sum(chg)` in the one job
that materializes the new state. The loop stops after `n_supersteps`
(None = no bound), or as soon as no vertex changed — the analog of
the reference's `global_nq_size == 0` check. Stopping there is exact
for any program: a superstep is a function of the state alone.

`active_only=True` sends only from the vertices that changed in the
previous superstep (GraphX's active set). It is correct when the
merge is idempotent and apply is monotone (min, max, or): a vertex
that did not change would resend what its neighbours already folded
in. Sums (katz, Markov mass) need every vertex to send each round.

Loops that stay separate, and why:
  * bfs keeps a lazy union of per-level leaves. A probe ran it as a
    vertex program on this loop (kron s14, 3 roots × 3 reps, local[4]):
    rows were identical, but each root took 31 jobs instead of 28 and
    the median wall time went from about 2.7 s to 3.0 s.
  * kcore.core_numbers joins its state on `dst` so the h-index window
    reuses the fixture's `src` partitioning. Joining on `src`, as this
    loop does, adds a hash exchange per round (4 → 5 exchanges in the
    executed plan, counting the state broadcast); persisting a
    reversed projection loses the partitioning too.
  * pagerank turns its state into a plan leaf every second round, so
    two iterations share one job.
  * kcore.k_core and components.connected_components_stars carry edge
    sets, not vertex state.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from graph500_spark.functions.confscope import scoped_session_confs
from graph500_spark.functions.plantrunc import cached, truncate_plan_lazy
from graph500_spark.functions.sizing import (
    broadcast_if_fits,
    resolve_shuffle_partitions,
)


def pregel(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame,
    send: Callable[[DataFrame], DataFrame],
    merge: Sequence[Column],
    apply_fn: Callable[[DataFrame, DataFrame], DataFrame],
    n_supersteps: int | None = 10,
    active_only: bool = False,
    shuffle_partitions: int | str | None = "auto",
    edge_count: int | None = None,
    key: Sequence[str] = (),
) -> DataFrame:
    """Run the superstep loop and return the final vertex-state
    DataFrame [*key, vertex, <state cols>] over a checkpoint leaf.
    ``shuffle_partitions="auto"`` applies the ~2M-rows/partition rule
    (functions/sizing.py) from ``edge_count`` when given, else from a
    count of the cached edge table (whose materialization the first
    superstep pays anyway); the override engages only above the
    session width."""
    with cached(edges) as edges:
        sp_override = resolve_shuffle_partitions(
            spark, shuffle_partitions, edge_count, edges.count
        )
        with scoped_session_confs(
            spark, {"spark.sql.shuffle.partitions": sp_override}
        ):
            state = vertices.transform(truncate_plan_lazy)
            n_active = state.count()
            active = state
            step = 0
            while n_supersteps is None or step < n_supersteps:
                step += 1
                src_state = broadcast_if_fits(
                    active.withColumnRenamed("vertex", "src"), n_active
                )
                inbox = (
                    send(edges.join(src_state, "src"))
                    .groupBy(*key, "vertex")
                    .agg(*merge)
                )
                # lazy: the readout below materializes the new state
                # in the SAME job — one driver barrier per superstep
                new_state = apply_fn(state, inbox).transform(
                    truncate_plan_lazy
                )
                row = new_state.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("chg").cast("long")).alias("chg"),
                ).first()
                state = new_state.drop("chg")
                if not row["chg"]:
                    break
                if active_only:
                    active = new_state.filter("chg").drop("chg")
                    n_active = row["chg"]
                else:
                    active, n_active = state, row["n"]
    return state


def propagate_extreme(
    spark: SparkSession,
    edges: DataFrame,
    labels: DataFrame,
    pick: Callable[..., Column],
    n_supersteps: int | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """[vertex, label] after ``n_supersteps`` (None = at the fixpoint)
    of label(v) ← pick(label(v), labels of v's in-neighbours), from
    the initial ``labels`` [vertex, label] over [src, dst] ``edges``.
    ``pick`` is ``F.least`` or ``F.greatest``: an idempotent merge, so
    only the vertices that changed send (``active_only``)."""
    merge = {F.least: F.min, F.greatest: F.max}[pick]

    # The label table LEFT JOIN the per-vertex merged messages, not a
    # union + full re-aggregation: the only shuffle is the aggregation
    # of the (changed-set-sized) messages.
    def apply_fn(old: DataFrame, inbox: DataFrame) -> DataFrame:
        new = pick("label", F.coalesce("msg", "label"))
        return old.join(inbox, "vertex", "left").select(
            "vertex", new.alias("label"), (new != F.col("label")).alias("chg")
        )

    return pregel(
        spark,
        edges,
        labels,
        lambda j: j.select(
            F.col("dst").alias("vertex"), F.col("label").alias("msg")
        ),
        [merge("msg").alias("msg")],
        apply_fn,
        n_supersteps=n_supersteps,
        active_only=True,
        shuffle_partitions=shuffle_partitions,
    )


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
    the max-dual of operators/components.py."""
    verts = (
        edges_clean.select(F.col("src").alias("vertex"))
        .distinct()
        .withColumn("label", F.col("vertex"))
    )
    return propagate_extreme(
        spark,
        edges_clean.select("src", "dst"),
        verts,
        F.greatest,
        n_supersteps=n_supersteps,
        shuffle_partitions=shuffle_partitions,
    )
