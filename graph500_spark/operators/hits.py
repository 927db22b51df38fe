"""HITS (hubs & authorities) by fixed-iteration mutual reinforcement.

Companion centrality to operators/pagerank.py over a DIRECTED edge
list (on a symmetrized graph HITS degenerates to hub ≡ auth, so the
registry runs it on the directed dedup'd fixture): auth(v) = Σ hub(u)
over in-edges, hub(u) = Σ auth(v) over out-edges; HITS is linear so
the L1 normalization is deferred to the final output (a pure scale
factor per half-step that cancels). Fixed iteration count ⇒ the
result is an exact algebraic function of the input and the DuckDB
oracle unrolls the same deferred arithmetic
(plans/queries.py::hits_sql).

Scale notes: each half-step is one equi-join of the (broadcastable
under driver-known count) score vector against the stationary cached
edge table + a map-side-partial sum — the PageRank iteration's plan,
twice per round. The hub half-step stays LAZY inside the iteration
(it has exactly one consumer, the auth half-step), so each iteration
costs ONE driver barrier (the eager auth localCheckpoint), not two —
the two shuffles pipeline inside a single job. Only the final
iteration checkpoints the hub as well, so the returned plan depends
only on checkpoint leaves (the edge cache can be dropped). No
per-step totals, no scalar ``collect``s; the two L1 totals are
broadcast-cross-joined once at the end, inside the dataflow.

Numerical stability for large n_iterations: raw deferred scores grow
~avg_degree per half-step, so after each iteration the auth vector is
rescaled by 2**-(2*round(log2(avg_degree))) — an EXACT power of two.
Power-of-two factors commute with IEEE-754 rounding (they shift the
exponent only), so every intermediate float equals the unscaled
value times an exact power of two, magnitudes stay Θ(1/n) for any
iteration count (no overflow/underflow), and the normalized output is
bit-identical to the unscaled arithmetic the oracle unrolls.

Output scaled ×n_vertices and rounded to 5 (the cross-engine float
convention) so the hash has discrimination left after rounding.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from graph500_spark.functions.plantrunc import (
    cached,
    truncate_plan_for,
    truncate_plan_lazy,
)
from graph500_spark.functions.sizing import broadcast_if_fits


def hits(
    spark: SparkSession,
    edges_directed: DataFrame,
    n_iterations: int = 5,
) -> DataFrame:
    """[vertex, hub, auth] after `n_iterations` rounds from the
    uniform authority vector over a directed [src, dst] edge list."""
    with cached(edges_directed.select("src", "dst")) as edges:
        verts = (
            edges.select(F.col("src").alias("vertex"))
            .unionByName(edges.select(F.col("dst").alias("vertex")))
            .distinct()
            # lazy checkpoint + count = one driver barrier (guide §1.2/§5)
            .transform(truncate_plan_lazy)
        )
        n = verts.count()
        m = edges.count()  # also materializes the edge cache

        # Exact power-of-two per-iteration rescale (see module docstring).
        shift = max(0, round(math.log2(max(m / n, 1.0))))
        iter_scale = math.ldexp(1.0, -2 * shift)

        # the score vector's blocking broadcast build materializes it
        auth = verts.select(
            "vertex", (F.lit(1.0) / F.lit(float(n))).alias("score")
        ).transform(truncate_plan_for, n)

        def half_step(
            scores: DataFrame, out_edges: bool, scale: float = 1.0
        ) -> DataFrame:
            """sum scores over (out_edges ? dst : src) neighbors (raw,
            unnormalized, LAZY — caller decides where to checkpoint)."""
            s = broadcast_if_fits(
                scores.withColumnRenamed(
                    "vertex", "dst" if out_edges else "src"
                ),
                n,
            )
            raw = (
                edges.join(s, "dst" if out_edges else "src")
                .groupBy(
                    F.col("src" if out_edges else "dst").alias("vertex")
                )
                .agg(F.sum("score").alias("raw"))
            )
            score_col = F.col("raw")
            if scale != 1.0:
                score_col = score_col * F.lit(scale)
            # SPARSE representation: vertices absent from `raw` have score
            # 0 and contribute nothing to the next half-step's sum, so the
            # zero-fill left-join against `verts` is deferred to the final
            # output (2 fewer joins per iteration).
            return raw.select("vertex", score_col.alias("score"))

        hub = auth
        for it in range(n_iterations):
            last = it == n_iterations - 1
            # Hub stays lazy mid-loop: its only consumer is the auth
            # half-step below, so both shuffles run in the auth
            # checkpoint's single job. The final iteration checkpoints it
            # (it outlives the loop into the returned plan, and the edge
            # cache is dropped on return).
            hub = half_step(auth, out_edges=True)
            if last:
                hub = hub.transform(truncate_plan_for, n)
            auth = half_step(
                hub, out_edges=False, scale=iter_scale
            ).transform(truncate_plan_for, n)

        h_total = hub.agg(F.sum("score").alias("h_total"))
        a_total = auth.agg(F.sum("score").alias("a_total"))
        out = (
            verts.join(hub.withColumnRenamed("score", "h"), "vertex", "left")
            .join(auth.withColumnRenamed("score", "a"), "vertex", "left")
            .crossJoin(F.broadcast(h_total))
            .crossJoin(F.broadcast(a_total))
            .select(
                "vertex",
                F.round(
                    F.coalesce("h", F.lit(0.0))
                    / F.col("h_total")
                    * F.lit(float(n)),
                    5,
                ).alias("hub"),
                F.round(
                    F.coalesce("a", F.lit(0.0))
                    / F.col("a_total")
                    * F.lit(float(n)),
                    5,
                ).alias("auth"),
            )
        )
        return out
