"""PageRank by fixed-iteration power method.

Engine capability beyond the reference's own surface: the reference's
only traversal is single-root BFS (/root/reference/mpi/bfs.hpp:2651-2940)
plus an empty SSSP stub (mpi/bfs.hpp:2569-2571). PageRank is the
canonical "second query" over the same cleaned adjacency and exercises
the identical Spark shape — per-round shuffle-on-src join against the
edge table with driver-controlled lineage truncation — so it shares all
the scale machinery the BFS/SSSP/CC loops established.

Determinism & oracle-checkability: a FIXED iteration count (not a
convergence epsilon) makes the result an exact algebraic function of
the input, so a DuckDB oracle can unroll the same iterations as CTEs
(plans/queries.py::pagerank_sql). Ranks are reported normalized
(rank × n_vertices, average 1.0) and rounded so both engines agree to
the hash digit despite floating-point summation-order differences.

Scale notes (100 TB): each iteration is ONE shuffle — the contribution
join on src re-uses the edge table's partitioning (bucketed-by-src
storage via sources/io.py makes it exchange-free on the edge side) and
the groupBy(dst) sum is partially aggregated map-side. The rank vector
is O(|V|) and localCheckpoint'ed each round so the plan stays O(1)
deep; hub skew in the groupBy is AQE-skew-splittable. Dangling
vertices cannot occur on a symmetrized graph (every vertex has
out-degree ≥ 1), so no dangling-mass redistribution term is needed —
asserted in the docstring contract rather than silently wrong on
directed inputs: pass symmetrized edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from graph500_spark.functions.confscope import scoped_session_confs
from graph500_spark.functions.plantrunc import cached, truncate_plan_for
from graph500_spark.functions.sizing import broadcast_if_fits


def pagerank(
    spark: SparkSession,
    edges_clean: DataFrame,
    n_iterations: int = 10,
    damping: float = 0.85,
    shuffle_partitions: int | None = None,
    sources: list[int] | None = None,
) -> DataFrame:
    """[vertex, norm_rank] over a symmetrized, deduped edge list after
    `n_iterations` power-method steps from the uniform vector.
    norm_rank = rank × n_vertices (average exactly 1.0), rounded to 5
    decimals — the same cross-engine float convention as
    operators/simsearch.py.

    With `sources`, computes PERSONALIZED PageRank: both the initial
    vector and the teleport mass are uniform over `sources` instead of
    over all vertices (rank ≡ stationary probability of a
    random-walk-with-restart from the source set — the standard
    seed-expansion / related-items primitive). Identical plan shape;
    only the two teleport expressions change.
    """
    # Cache the edge table once: every iteration joins against it,
    # and without the cache the upstream construction (2 shuffles +
    # the source scan) would re-execute per iteration.
    # Out-degrees double as the vertex universe (symmetrized graph:
    # src covers every non-isolated vertex). Cached once, inside the
    # conf scope — reused by every iteration's contribution join.
    with cached(edges_clean.select("src", "dst")) as edges, (
        scoped_session_confs(
            spark, {"spark.sql.shuffle.partitions": shuffle_partitions}
        )
    ), cached(
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .withColumnRenamed("src", "vertex")
    ) as deg:
        n_vertices = deg.count()

        if sources is None:
            init = F.lit(1.0) / F.lit(float(n_vertices))
            teleport_col = F.lit((1.0 - damping) / float(n_vertices))
        else:
            in_s = F.col("vertex").isin([int(s) for s in sources])
            init = F.when(in_s, F.lit(1.0 / len(sources))).otherwise(
                F.lit(0.0)
            )
            teleport_col = F.when(
                in_s, F.lit((1.0 - damping) / len(sources))
            ).otherwise(F.lit(0.0))
        # the rank vector's blocking broadcast build materializes it
        ranks = deg.select("vertex", init.alias("rank")).transform(
            truncate_plan_for, n_vertices
        )
        for it in range(n_iterations):
            # Checkpointed rank state carries no Catalyst stats, so
            # without the driver-known-count hint every iteration
            # would shuffle the (large, stationary) edge table; with
            # it the rank vector ships map-side and the edges never
            # move (same strategy as operators/bfs.py).
            rank_side = broadcast_if_fits(
                ranks.join(deg, "vertex").select(
                    F.col("vertex").alias("src"),
                    (F.col("rank") / F.col("outdeg")).alias("contrib"),
                ),
                n_vertices,
            )
            contribs = (
                edges.join(rank_side, "src")
                .groupBy(F.col("dst").alias("vertex"))
                .agg(F.sum("contrib").alias("mass"))
            )
            new_ranks = contribs.select(
                "vertex",
                (teleport_col + F.lit(damping) * F.col("mass")).alias(
                    "rank"
                ),
            )
            # Leaf-ify every SECOND round (and on the last): the lazy
            # odd-round plan has exactly one consumer (the next
            # round's contribution join), so two iterations' shuffles
            # pipeline into one job — half the driver barriers — while
            # plan depth stays O(1) (≤2 rounds deep) regardless of
            # n_iterations (same lineage discipline as operators/bfs.py).
            if it % 2 == 1 or it == n_iterations - 1:
                new_ranks = new_ranks.transform(
                    truncate_plan_for, n_vertices
                )
            ranks = new_ranks

        out = ranks.select(
            "vertex",
            F.round(F.col("rank") * F.lit(float(n_vertices)), 5).alias(
                "norm_rank"
            ),
        )
        # ranks is a checkpoint leaf, so the caches feeding it can go.
        return out
