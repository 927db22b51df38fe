"""Random-walk corpus generation (the DeepWalk/node2vec training-data
primitive) with deterministic hash-chosen steps.

Engine capability beyond the reference surface, squarely in the
training-data-pipeline tier: graph-embedding pipelines consume a
corpus of short walks ("sentences" of vertex ids). True RNG would make
the output partitioning-dependent and uncheckable; instead each step
chooses the neighbor minimizing a hash of (walk id, step, neighbor) —
statistically uniform per step, bit-reproducible anywhere, and
expressible in ANSI SQL, so the walk table sits in the oracle-checked
tier (plans/queries.py::random_walks_sql). Same determinism idea as
the engine's PRNG-skip generator (functions/prng.py): position defines
value.

Scale notes: one walk step = one equi-join of the current frontier
(|V| rows) against the adjacency on src + an argmin aggregation —
identical shape to a BFS level, so the same discipline applies
(driver-known-count broadcast of the frontier, stationary edge table,
checkpoint per step). Hub skew in the join is AQE-territory; the
argmin is map-side partial. Ties between equal hash scores break to
the smaller neighbor id via a packed (score, neighbor) encoding —
fully deterministic even on hash collisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from graph500_spark.functions.plantrunc import (
    cached,
    truncate_plan,
    truncate_plan_for,
    truncate_plan_lazy,
)
from graph500_spark.functions.sizing import broadcast_if_fits

WALK_HASH_MOD = 1000000007
_PACK_SHIFT = 1 << 24  # neighbor ids < 2^24 in all test graphs


def _score(walk_col, step: int, dst_col):
    """Deterministic per-(walk, step, candidate) score in [0, mod)."""
    return (
        walk_col * F.lit(1315423911) + F.lit(step) * F.lit(2654435761)
        + dst_col * F.lit(97)
    ) % F.lit(WALK_HASH_MOD)


def random_walks(
    spark: SparkSession,
    edges_clean: DataFrame,
    walk_len: int = 4,
) -> DataFrame:
    """[walk_id, step, vertex]: one walk per vertex (walk_id = start
    vertex), steps 0..walk_len inclusive. On a symmetrized graph no
    walk dead-ends (every vertex has a neighbor)."""
    with cached(edges_clean.select("src", "dst")) as edges:
        frontier = (
            edges.select(F.col("src").alias("vertex"))
            .distinct()
            .withColumn("walk_id", F.col("vertex"))
            # lazy checkpoint + count = one driver barrier (guide §1.2/§5)
            .transform(truncate_plan_lazy)
        )
        n = frontier.count()
        out = frontier.select("walk_id", F.lit(0).alias("step"), "vertex")

        for step in range(1, walk_len + 1):
            f_side = broadcast_if_fits(
                frontier.select(F.col("vertex").alias("src"), "walk_id"), n
            )
            packed = (
                edges.join(f_side, "src")
                .groupBy("walk_id")
                .agg(
                    F.min(
                        _score(F.col("walk_id"), step, F.col("dst"))
                        * F.lit(_PACK_SHIFT)
                        + F.col("dst")
                    ).alias("pick")
                )
            )
            # the frontier's blocking broadcast build materializes it
            # before the out-union's second reference
            frontier = packed.select(
                "walk_id",
                (F.col("pick") % F.lit(_PACK_SHIFT)).alias("vertex"),
            ).transform(truncate_plan_for, n)
            out = out.unionByName(
                frontier.select(
                    "walk_id", F.lit(step).alias("step"), "vertex"
                )
            )
        return out


def neighbor_sample(
    spark: SparkSession,
    edges_clean: DataFrame,
    fanout: tuple[int, ...] = (5, 3),
) -> DataFrame:
    """[seed, layer, src, dst] — GraphSAGE-style layered neighbor
    sampling: every vertex is a seed; layer i keeps at most
    ``fanout[i-1]`` neighbors of each frontier vertex, chosen by
    deterministic hash rank (same position-defines-value discipline
    as random_walks — bit-reproducible under any partitioning, and
    SQL-expressible so the sampled computation graph sits in the
    oracle-checked tier).

    This is the minibatch fan-out primitive GNN training pipelines
    run at corpus scale: the full k-hop neighborhood of a hub is
    unboundedly large, the sampled one is exactly prod(fanout) edges
    per seed. Per layer: one equi-join of the frontier against the
    stationary adjacency + one per-(seed, src) ranked window —
    identical shuffle keys to a BFS level. Frontier dedup is BY
    (seed, vertex), so diamond fan-in does not re-expand; ties on
    hash scores break to the smaller neighbor id via the packed
    encoding."""
    from pyspark.sql.window import Window

    with cached(edges_clean.select("src", "dst")) as edges:
        seeds = (
            edges.select(F.col("src").alias("vertex"))
            .distinct()
            .select(F.col("vertex").alias("seed"), "vertex")
            .transform(truncate_plan)
        )
        frontier = seeds
        out = None
        for layer, k in enumerate(fanout, start=1):
            cand = edges.join(
                frontier.select(F.col("vertex").alias("src"), "seed"),
                "src",
            ).select(
                "seed",
                "src",
                "dst",
                (
                    _score(F.col("seed") * F.lit(31) + F.col("src"),
                           layer, F.col("dst"))
                    * F.lit(_PACK_SHIFT)
                    + F.col("dst")
                ).alias("rank_key"),
            )
            w = Window.partitionBy("seed", "src").orderBy("rank_key")
            picked = (
                cand.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= k)
                .select("seed", F.lit(layer).alias("layer"), "src", "dst")
                .transform(truncate_plan)
            )
            out = picked if out is None else out.unionByName(picked)
            frontier = picked.select(
                "seed", F.col("dst").alias("vertex")
            ).distinct()
        return out


def neighbor_sample_sql(
    clean_sql: str, fanout: tuple[int, ...] = (5, 3)
) -> str:
    """Oracle mirror: the same hash-ranked layer unrolling."""

    def score(seed: str, layer: int, dst: str) -> str:
        return (
            f"((({seed}) * 31 + src) * 1315423911"
            f" + {layer} * 2654435761 + {dst} * 97) % {WALK_HASH_MOD}"
        )

    parts = [
        f"WITH clean AS MATERIALIZED ({clean_sql})",
        "f0 AS MATERIALIZED (SELECT DISTINCT src AS seed,"
        " src AS vertex FROM clean)",
    ]
    for layer, k in enumerate(fanout, start=1):
        parts.append(
            f"c{layer} AS MATERIALIZED (SELECT f.seed, e.src, e.dst,"
            f" ROW_NUMBER() OVER (PARTITION BY f.seed, e.src ORDER BY"
            f" ({score('f.seed', layer, 'e.dst')})"
            f" * {_PACK_SHIFT} + e.dst) AS rn"
            f" FROM clean e JOIN f{layer-1} f ON e.src = f.vertex)"
        )
        parts.append(
            f"p{layer} AS MATERIALIZED (SELECT seed,"
            f" CAST({layer} AS BIGINT) AS layer, src, dst"
            f" FROM c{layer} WHERE rn <= {k})"
        )
        parts.append(
            f"f{layer} AS MATERIALIZED (SELECT DISTINCT seed,"
            f" dst AS vertex FROM p{layer})"
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM p{i}" for i in range(1, len(fanout) + 1)
    )
    return ", ".join(parts) + f" {union}"


def node2vec_walks(
    spark: SparkSession,
    edges_clean: DataFrame,
    walk_len: int = 4,
    p_mult: int = 4,
    q_mult: int = 2,
) -> DataFrame:
    """[walk_id, step, vertex] — second-order (node2vec-style) biased
    walks: each step scores candidate dst by hash and MULTIPLIES the
    score by an integer bias class before taking the minimum —
    ``p_mult`` for returning to the previous vertex (return
    penalty, node2vec's 1/p), 1 for candidates adjacent to the
    previous vertex (BFS-ish stay-local), ``q_mult`` otherwise
    (DFS-ish exploration, node2vec's 1/q). A weighted-min-hash
    choice: selection probability decreases with the multiplier,
    deterministic and partitioning-free like every sampler here
    (position defines value), and exactly mirrored in the unrolled
    SQL oracle.

    The second-order state is the (cur, prev) pair; the bias needs
    one extra join per step — candidates (prev, dst) probed against
    the stationary edge table to mark prev-adjacency, the same
    composite-key shape as triangle counting. Step 1 has no prev
    (prev = -1 matches nothing), so every candidate lands in the
    q class — a constant multiplier, i.e. a uniform first hop."""
    if max(p_mult, q_mult) > 256 or min(p_mult, q_mult) < 1:
        # packed encoding headroom: score (< 1e9) x mult x 2^24 must
        # stay inside int64 (ANSI overflow would throw mid-walk)
        raise ValueError("bias multipliers must be in [1, 256]")
    with cached(edges_clean.select("src", "dst")) as edges:
        frontier = (
            edges.select(F.col("src").alias("vertex"))
            .distinct()
            .select(
                F.col("vertex").alias("walk_id"),
                F.col("vertex").alias("cur"),
                F.lit(-1).cast("long").alias("prev"),
            )
            .transform(truncate_plan)
        )
        n = frontier.count()
        out = frontier.select(
            "walk_id", F.lit(0).alias("step"), F.col("cur").alias("vertex")
        )
        adj_probe = edges.select(
            F.col("src").alias("prev"),
            F.col("dst").alias("dst"),
            F.lit(1).alias("is_adj"),
        )
        for step in range(1, walk_len + 1):
            f_side = broadcast_if_fits(
                frontier.select(F.col("cur").alias("src"), "walk_id", "prev"),
                n,
            )
            cand = edges.join(f_side, "src").join(
                adj_probe, ["prev", "dst"], "left"
            )
            mult = (
                F.when(F.col("dst") == F.col("prev"), F.lit(p_mult))
                .when(F.col("is_adj").isNotNull(), F.lit(1))
                .otherwise(F.lit(q_mult))
            )
            packed = cand.groupBy("walk_id").agg(
                F.min(
                    _score(F.col("walk_id"), step, F.col("dst"))
                    * mult
                    * F.lit(_PACK_SHIFT)
                    + F.col("dst")
                ).alias("pick"),
                F.min(F.col("src")).alias("cur_was"),
            )
            frontier = packed.select(
                "walk_id",
                (F.col("pick") % F.lit(_PACK_SHIFT)).alias("cur"),
                F.col("cur_was").alias("prev"),
            ).transform(truncate_plan)
            out = out.unionByName(
                frontier.select(
                    "walk_id", F.lit(step).alias("step"),
                    F.col("cur").alias("vertex"),
                )
            )
        return out


def node2vec_walks_sql(
    clean_sql: str,
    walk_len: int = 4,
    p_mult: int = 4,
    q_mult: int = 2,
) -> str:
    """Oracle mirror of node2vec_walks (unrolled steps, identical
    integer weighted-min-hash arithmetic)."""
    parts = [
        f"WITH clean AS MATERIALIZED ({clean_sql})",
        "f0 AS MATERIALIZED (SELECT DISTINCT src AS walk_id,"
        " src AS cur, CAST(-1 AS BIGINT) AS prev FROM clean)",
    ]
    for s in range(1, walk_len + 1):
        score = (
            f"(f.walk_id * 1315423911 + {s} * 2654435761"
            f" + e.dst * 97) % {WALK_HASH_MOD}"
        )
        mult = (
            f"CASE WHEN e.dst = f.prev THEN {p_mult}"
            " WHEN EXISTS (SELECT 1 FROM clean a WHERE"
            " a.src = f.prev AND a.dst = e.dst) THEN 1"
            f" ELSE {q_mult} END"
        )
        parts.append(
            f"p{s} AS MATERIALIZED (SELECT f.walk_id,"
            f" MIN(({score}) * ({mult}) * {_PACK_SHIFT} + e.dst)"
            " AS pick, MIN(f.cur) AS cur_was"
            f" FROM clean e JOIN f{s-1} f ON e.src = f.cur"
            " GROUP BY f.walk_id)"
        )
        parts.append(
            f"f{s} AS MATERIALIZED (SELECT walk_id,"
            f" pick % {_PACK_SHIFT} AS cur, cur_was AS prev"
            f" FROM p{s})"
        )
    union = " UNION ALL ".join(
        f"SELECT walk_id, CAST({s} AS BIGINT) AS step,"
        f" cur AS vertex FROM f{s}"
        for s in range(0, walk_len + 1)
    )
    return ", ".join(parts) + f" {union}"
