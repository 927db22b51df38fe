"""k-core extraction by iterative peeling.

Engine capability beyond the reference surface (companion to
operators/components.py / pagerank.py / triangles.py over the same
cleaned symmetric edge table): the k-core is the maximal subgraph in
which every vertex has degree ≥ k — the standard density filter before
expensive graph analytics (e.g. drop the long tail before triangle
enumeration).

Algorithm: repeatedly delete vertices of current degree < k until none
remain (the deletion fixpoint is unique, so peeling order is
irrelevant — the result is deterministic and oracle-checkable). Each
round is one degree aggregation + one semi-join; the surviving edge
set is localCheckpoint'ed per round (same lineage discipline as every
other loop in this engine). Rounds needed = peeling depth, typically
tiny on heavy-tailed graphs; the DuckDB oracle unrolls a fixed round
budget ≥ the fixpoint depth (extra rounds are no-ops on both sides,
so any budget past convergence yields the identical result —
plans/queries.py::k_core_sql).

Scale notes: per round ONE shuffle (the degree groupBy; the semi-joins
reuse its output broadcast — survivor vertex lists shrink
monotonically). Peeling touches only the shrinking edge set; at 100 TB
the first round's degree agg is the same job as A1 over the bucketed
edge table (exchange-free on src).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from graph500_spark.functions.plantrunc import cached, truncate_plan_lazy
from graph500_spark.functions.sizing import broadcast_if_fits


def k_core(
    edges_clean: DataFrame,
    k: int,
    max_rounds: int = 16,
) -> DataFrame:
    """[vertex, degree]: vertices of the k-core with their within-core
    degree. Empty result if the graph has no k-core."""
    # No checkpoint of the input — at scale the full edge table is huge
    # and only the (shrinking) survivor sets are loop state; round ≥ 1
    # edge sets are checkpointed as they are produced.
    edges = edges_clean.select("src", "dst")
    n_edges = edges.count()

    for _ in range(max_rounds):
        if n_edges == 0:
            break
        deg = edges.groupBy(F.col("src").alias("vertex")).agg(
            F.count(F.lit(1)).alias("degree")
        )
        survivors = deg.filter(F.col("degree") >= k).select("vertex")
        # one scalar job for both loop controls instead of two counts
        row = deg.agg(
            F.count(F.lit(1)).alias("nv"),
            F.sum((F.col("degree") >= k).cast("long")).alias("ns"),
        ).first()
        n_vertices = row["nv"]
        n_survivors = row["ns"] or 0
        if n_survivors == n_vertices:
            break  # fixpoint: nobody peeled this round
        survivors = broadcast_if_fits(survivors, n_survivors)
        new_edges = (
            edges.join(
                survivors.select(F.col("vertex").alias("src")), "src", "left_semi"
            )
            .join(
                survivors.select(F.col("vertex").alias("dst")), "dst", "left_semi"
            )
            # lazy checkpoint + count = one driver barrier per round
            .transform(truncate_plan_lazy)
        )
        # no unpersist of the superseded set: in round 1 it is the
        # caller's plan (possibly cached), later a checkpoint leaf that
        # rebinding releases (functions/plantrunc.py)
        edges = new_edges
        n_edges = edges.count()

    return edges.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).alias("degree")
    ).filter(F.col("degree") >= k)


def core_numbers(
    edges_clean: DataFrame,
    max_iters: int = 64,
) -> DataFrame:
    """[vertex, coreness] — the full core decomposition (the max k
    such that v survives k-core peeling), via the distributed h-index
    fixpoint (Lu, Zhou, Zhang, Stanley 2016): initialize c(v) =
    deg(v); iterate c(v) <- H({c(u): u in N(v)}), the largest h such
    that at least h neighbors hold value >= h. The sequence is
    pointwise non-increasing and converges exactly to coreness — no
    sequential peeling order, so it distributes where the classic
    min-degree peel cannot.

    Per iteration: one edges |><| state join on dst (the stationary
    edge cache's own key), then the per-vertex H computed as
    max(min(c_nbr, rank)) over a desc-ordered window — one exchange
    on vertex, the same single-exchange window shape every per-key
    top-k here uses. State is localCheckpoint'ed per round and the
    superseded leaf released by rebinding (lineage discipline of every
    loop in this engine); all joins hang off checkpoint leaves or the edge
    cache — never off a shared shuffled sub-plan (the Spark 4.1 + AQE
    iterative-diamond pathology documented in PLANS.md round 5).

    Convergence depth is bounded by the longest strictly-decreasing
    dependency chain — 4 rounds at sf0.001, 7 at sf0.01 on the
    mod997 graphs; the DuckDB oracle unrolls a fixed budget past the
    fixpoint (rounds after convergence are no-ops on both sides,
    exactly the k_core_sql convention)."""
    from pyspark.sql.window import Window

    with cached(edges_clean.select("src", "dst")) as edges:
        c = (
            edges.groupBy(F.col("src").alias("vertex"))
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .transform(truncate_plan_lazy)
        )
        # |V| is loop-invariant (the h-index update preserves the vertex
        # set); checkpointed leaves carry no stats, so without an explicit
        # hint Catalyst would shuffle the STATIONARY edge table against the
        # tiny state every round — the driver knows the count and injects
        # broadcast() while it fits, exactly the bfs.py discipline.
        n_vertices = c.count()
        for _ in range(max_iters):
            c_side = broadcast_if_fits(
                c.select(
                    F.col("vertex").alias("dst"), F.col("c").alias("c_nbr")
                ),
                n_vertices,
            )
            nbr = edges.join(c_side, "dst").select(
                F.col("src").alias("vertex"), "c_nbr"
            )
            w = Window.partitionBy("vertex").orderBy(F.desc("c_nbr"))
            h = (
                nbr.select(
                    "vertex",
                    F.least(F.col("c_nbr"), F.row_number().over(w)).alias(
                        "m"
                    ),
                )
                .groupBy("vertex")
                .agg(F.max("m").cast("long").alias("h"))
            )
            # the change flag rides in the checkpoint so the fixpoint test
            # is one narrow agg over the cached leaf, not a second join
            new_c = (
                c.join(h, "vertex")
                .select(
                    "vertex",
                    F.least("c", "h").alias("c"),
                    (F.least("c", "h") != F.col("c")).alias("chg"),
                )
                # lazy: the fixpoint agg below materializes it — one
                # driver barrier per round instead of two
                .transform(truncate_plan_lazy)
            )
            changed = new_c.agg(
                F.sum(F.col("chg").cast("long")).alias("n")
            ).first()["n"]
            c = new_c.select("vertex", "c")
            if changed == 0:
                break
    return c.select("vertex", F.col("c").alias("coreness"))
