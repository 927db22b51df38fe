"""Level-synchronous BFS (SURVEY.md §2.3 J1/J2, §3.2).

The reference's direction-optimizing hybrid engine
(/root/reference/mpi/bfs.hpp:2651-2940) produces *some* valid BFS
predecessor tree (first-writer-wins CAS, bfs.hpp:1302). Here the same
semantics are one join formulation — frontier ⋈ adjacency, dedup by
min(parent) (a deterministic, spec-valid choice per FIXTURES.md §3) —
iterated in a driver loop with a global barrier per level, exactly
Pregel's model.

Why there is no bottom-up variant: top-down vs bottom-up is a physical
strategy for the same logical semi-join. In Spark the analogous runtime
choice (broadcast the small side, re-plan per level) is made by AQE from
actual frontier sizes, so the engine keeps ONE logical formulation and
lets the optimizer pick the physical plan — that is the Spark-first
translation of the reference's α/β direction heuristics
(bfs.hpp:2799-2829, parameters.h:87-89).

Scale notes:
  * The per-level join shuffles on src; pre-partitioning the edge table
    by src (``repartition("src")`` + persist, done in the level loop) makes
    every level reuse that exchange — only the (small) frontier moves.
  * each level's frontier is a lazy checkpoint leaf
    (``truncate_plan_lazy``), which cuts the lineage chain that
    otherwise grows linearly with depth (the classic iterative-Spark
    failure mode; SURVEY.md §7.3); the level's count materializes it.
  * The visited set stays distributed; the only driver-side value per
    level is the frontier count (the reference allreduces nq_size the
    same way, bfs.hpp:1163).

One level loop, ``_bfs_levels``, serves every traversal here. Its
``key`` list names the columns that tell independent traversals apart:
``[]`` for single-root ``bfs`` (state is keyed by vertex alone) and
``["root"]`` for batched ``bfs_multi`` (state keyed by (root,
vertex), so the roots share each level's job but never interact).
Every join, anti-join and dedup runs on ``[*key, "vertex"]``, so the
single-root plan carries no constant key column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from graph500_spark.functions.plantrunc import truncate_plan_lazy
from graph500_spark.functions.confscope import scoped_session_confs
from graph500_spark.functions.sizing import (
    broadcast_if_fits,
    fits,
    resolve_shuffle_partitions,
)

PRED_SCHEMA = T.StructType(
    [
        T.StructField("vertex", T.LongType(), False),
        T.StructField("pred", T.LongType(), True),
        T.StructField("depth", T.IntegerType(), True),
    ]
)

MULTI_PRED_SCHEMA = T.StructType(
    [T.StructField("root", T.LongType(), False), *PRED_SCHEMA.fields]
)

MULTI_DEPTH_SCHEMA = T.StructType(
    [
        T.StructField("root", T.LongType(), False),
        T.StructField("vertex", T.LongType(), False),
        T.StructField("depth", T.IntegerType(), True),
    ]
)


def _bfs_levels(
    spark: SparkSession,
    edges_clean: DataFrame,
    seeds: list[tuple],
    schema: T.StructType,
    key: list[str],
    with_pred: bool,
    max_depth: int | None,
    prepartition: bool,
    shuffle_partitions: int | str | None,
    edge_count: int | None,
) -> DataFrame:
    """The level-synchronous loop behind ``bfs`` and ``bfs_multi``:
    ``seeds`` are the depth-0 rows in ``schema`` order, ``key`` the
    traversal-identifying columns (module docstring). Returns the
    reached rows, a lazy union of the counted per-level frontiers."""
    cols = [*key, "vertex"]
    pred_col = [F.col("src").alias("pred")] if with_pred else []

    def dedup(df: DataFrame) -> DataFrame:
        # pred-free callers need only the level sets, which do not
        # depend on the parent tie-break
        if not with_pred:
            return df.dropDuplicates(cols)
        return df.groupBy(*cols).agg(F.min("pred").alias("pred"))

    edges = edges_clean.select("src", "dst")
    if prepartition:
        edges = edges.repartition("src").persist()
    try:
        sp_override = resolve_shuffle_partitions(
            spark,
            shuffle_partitions,
            edge_count,
            edges.count if prepartition else None,
        )
        with scoped_session_confs(
            spark, {"spark.sql.shuffle.partitions": sp_override}
        ):
            frontier = spark.createDataFrame(seeds, schema=schema).transform(
                truncate_plan_lazy
            )
            reached = frontier
            depth = 0
            n_frontier = n_reached = len(seeds)
            while max_depth is None or depth < max_depth:
                depth += 1
                # One logical step: frontier ⋈ adjacency → candidate
                # (dst, src), keep min(src) per dst, drop already-reached.
                frontier_side = broadcast_if_fits(
                    frontier.select(*key, F.col("vertex").alias("src")),
                    n_frontier,
                )
                reached_side = broadcast_if_fits(
                    reached.select(*cols), n_reached
                )
                candidates = edges.join(frontier_side, "src").select(
                    *key, F.col("dst").alias("vertex"), *pred_col
                )
                # Join order depends on whether `reached` broadcasts:
                #  * broadcastable → anti-join FIRST: candidates pointing
                #    at already-reached vertices (the majority on hub
                #    levels) die map-side, and only genuinely-new ones
                #    enter the groupBy shuffle;
                #  * too big to broadcast → groupBy FIRST: the partial
                #    (map-side) min-aggregation collapses duplicate dsts
                #    before the shuffle, and the shuffled anti-join then
                #    reuses the groupBy's hash partitioning on vertex.
                if fits(n_reached):
                    candidates = dedup(
                        candidates.join(reached_side, cols, "left_anti")
                    )
                else:
                    candidates = dedup(candidates).join(
                        reached_side, cols, "left_anti"
                    )
                candidates = candidates.withColumn("depth", F.lit(depth))
                # localCheckpoint makes the frontier a LEAF plan: without
                # it every level's plan tree embeds the previous level's
                # twice (join + anti-join) — exponential plan-tree growth
                # that overflows the JVM stack on deep graphs (persist()
                # alone does not truncate the logical plan). The LAZY form
                # fuses the materialization into the count below — one
                # driver barrier per level instead of two (guide §1.2/§5).
                new_frontier = candidates.transform(truncate_plan_lazy)
                n_new = new_frontier.count()
                if n_new == 0:
                    break
                reached = reached.unionByName(new_frontier)
                n_frontier = n_new
                n_reached += n_new
                frontier = new_frontier
    finally:
        if prepartition:
            edges.unpersist()
    return reached


def bfs(
    spark: SparkSession,
    edges_clean: DataFrame,
    root: int,
    max_depth: int | None = None,
    prepartition: bool = True,
    shuffle_partitions: int | str | None = "auto",
    edge_count: int | None = None,
) -> DataFrame:
    """BFS from ``root`` over a symmetrized, deduped edge list.

    Returns [vertex, pred, depth] for every *reached* vertex
    (root has pred == root, depth == 0 — the spec convention, the
    reference's mpi/validate.hpp:530). Unreached vertices are simply
    absent (≈ the reference's -1 entries). ``max_depth`` truncates the
    traversal at that level (the k-fold join chain a SQL oracle can
    unroll).

    ``shuffle_partitions`` overrides spark.sql.shuffle.partitions for
    the duration of the loop (restored after): per-level shuffles are
    tiny relative to the input, and at small/medium scale the fixed
    cost of many near-empty reduce tasks dominates. The default
    ``"auto"`` applies the round-11 s24 rule — ~2M edge rows per
    shuffle partition, engaged only when the derived width EXCEEDS
    the session value (functions/sizing.py) — using ``edge_count``
    when the caller knows |E| (then the override also sizes the
    prepartition layout, since nothing has materialized yet), else a
    count of the persisted prepartitioned table (then only the
    per-level shuffles widen; the layout was already built). ``None``
    opts out entirely: the session value and AQE coalescing govern.

    Job structure: the new frontier is a lazy checkpoint leaf each
    level, materialized by the level's own count (one job per level);
    ``reached`` is kept as a union of the already-checkpointed
    per-level frontiers, never re-materialized — re-checkpointing the
    union every level would recopy all reached rows, turning total
    work into O(n · depth).

    Join strategy: checkpointed DataFrames carry no size statistics, so
    Catalyst alone would plan every level as a shuffle join and move the
    (large, persisted) edge table each iteration. The driver, however,
    knows the exact frontier and reached counts from the previous
    level's job, and injects ``broadcast()`` hints while they fit the
    engine's one threshold (``functions/sizing.py``) — the Spark-first
    analog of the reference's direction-optimization heuristics
    (bfs.hpp:2799-2829): small
    frontier → map-side join against the stationary edge table; huge
    frontier (cluster scale) → fall back to shuffle join automatically.
    """
    return _bfs_levels(
        spark,
        edges_clean,
        [(int(root), int(root), 0)],
        PRED_SCHEMA,
        key=[],
        with_pred=True,
        max_depth=max_depth,
        prepartition=prepartition,
        shuffle_partitions=shuffle_partitions,
        edge_count=edge_count,
    )


def bfs_multi(
    spark: SparkSession,
    edges_clean: DataFrame,
    roots: list[int],
    max_depth: int | None = None,
    prepartition: bool = True,
    shuffle_partitions: int | str | None = "auto",
    edge_count: int | None = None,
    with_pred: bool = True,
) -> DataFrame:
    """Batched multi-source BFS: all ``roots`` advance in ONE shared
    frontier keyed by (root, vertex) — returns [root, vertex, pred,
    depth], per-root results identical to ``bfs(root)``.

    ``with_pred=False`` (guide §2.3, project before the exchange):
    depth-only consumers (closeness, eccentricity, mean path length)
    never read ``pred``, so the per-level candidate rows carry only
    (root, vertex) — a third fewer bytes through every level's
    exchange — and the min-parent aggregate becomes a plain distinct.
    The (root, vertex, depth) sets are bit-identical either way: a
    vertex's BFS level does not depend on which parent wins the
    tie-break. Returns [root, vertex, depth] in this mode.

    Why this exists: the reference's benchmark phase runs 64 BFS
    sequentially (mpi/main.cc:34-178), and a level-synchronous loop
    pays a driver barrier + job-scheduling floor PER LEVEL PER ROOT.
    Batching B roots divides that fixed cost by B — each level is one
    job whose join carries B frontiers — and the edge table stays
    persisted/partitioned across the whole batch. Per-level work is
    the union of the per-root works (the data cost is unchanged);
    what shrinks is the O(depth · B) scheduling term, which dominates
    until data cost takes over. The level loop runs until ALL roots'
    frontiers are exhausted (max over roots of eccentricity).

    Same join-strategy heuristics as ``bfs``, with counts summed over
    the batch: the broadcast decision is about total bytes moved, not
    per-root logical size."""
    if with_pred:
        seeds = [(int(r), int(r), int(r), 0) for r in roots]
    else:
        seeds = [(int(r), int(r), 0) for r in roots]
    return _bfs_levels(
        spark,
        edges_clean,
        seeds,
        MULTI_PRED_SCHEMA if with_pred else MULTI_DEPTH_SCHEMA,
        key=["root"],
        with_pred=with_pred,
        max_depth=max_depth,
        prepartition=prepartition,
        shuffle_partitions=shuffle_partitions,
        edge_count=edge_count,
    )


HARMONIC_SCALE = 1_000_000


def harmonic_closeness_sampled(
    spark: SparkSession,
    edges_clean: DataFrame,
    roots: list[int],
    **bfs_kwargs,
) -> DataFrame:
    """Sampled harmonic centrality: H(v) ≈ Σ_{r∈roots, r≠v} 1/d(r, v)
    over a root sample — the standard scalable estimator (exact
    closeness needs all-pairs distances). Returns [vertex, n_sources,
    harmonic_q] with the reciprocal depths quantized to integers
    (round(10^6/d)) so the aggregation is exact and order-free.

    Built directly on ``bfs_multi``: one batched traversal provides
    every sampled source's distances, so the estimator costs one
    multi-frontier BFS, not |roots| sequential ones. Disconnected
    (root, vertex) pairs contribute nothing — harmonic centrality's
    standard treatment of unreachable nodes. Runs the traversal
    pred-free (``with_pred=False``): only depths are consumed, so the
    per-level exchanges carry (root, vertex) rows — same level sets,
    a third fewer shuffled bytes."""
    bfs_kwargs.setdefault("with_pred", False)
    depths = bfs_multi(spark, edges_clean, roots, **bfs_kwargs).filter(
        F.col("depth") > 0
    )
    return depths.groupBy("vertex").agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum(
            F.expr(f"cast(round({HARMONIC_SCALE}.0 / depth) as bigint)")
        ).alias("harmonic_q"),
    )


def diameter_double_sweep(
    spark: SparkSession,
    edges_clean: DataFrame,
    root: int,
    **bfs_kwargs,
) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien-Latapy-Habib 2009):
    BFS from ``root``, BFS again from the farthest vertex found — the
    second eccentricity is a lower bound on the graph diameter that is
    exact on trees and empirically tight on real-world graphs, at the
    cost of TWO traversals instead of |V|.

    Returns one row [start_root, far_vertex, ecc1, far_vertex2,
    diameter_lb]. Farthest vertices are picked deterministically
    (depth desc, vertex asc); the mid-sweep pick is a 1-row driver
    finish (same bounded budget as root sampling in plans/runner.py).

    Ref context: the reference reports BFS depth statistics per run
    (mpi/main.cc:147-178) but has no diameter estimator; this is the
    standard scalable bound built on the same traversal core."""
    d1 = bfs(spark, edges_clean, root, **bfs_kwargs)
    far1 = (
        d1.orderBy(F.col("depth").desc(), F.col("vertex").asc())
        .limit(1)
        .collect()[0]
    )
    d2 = bfs(spark, edges_clean, int(far1["vertex"]), **bfs_kwargs)
    return (
        d2.agg(
            F.max(
                F.struct(
                    F.col("depth").alias("d"),
                    (-F.col("vertex")).alias("nv"),
                )
            ).alias("b")
        )
        .select(
            F.lit(int(root)).cast("long").alias("start_root"),
            F.lit(int(far1["vertex"])).cast("long").alias("far_vertex"),
            F.lit(int(far1["depth"])).cast("integer").alias("ecc1"),
            (-F.col("b.nv")).cast("long").alias("far_vertex2"),
            F.col("b.d").cast("integer").alias("diameter_lb"),
        )
    )
