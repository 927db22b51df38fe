"""Vertex-set operators (SURVEY.md O5) — the frontier/visited algebra
the reference implements as bitmap AND/OR/ANDN kernels
(/root/reference/mpi/bfs.hpp:241-276,744-837). On DataFrames these are
the standard distributed set operations; the bitmap representation is a
physical detail Spark replaces with hash shuffles / broadcast semi-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from graph500_spark.functions.plantrunc import (
    cached,
    truncate_plan_for,
    truncate_plan_lazy,
)
from graph500_spark.functions.sizing import broadcast_if_fits


def set_difference(a: DataFrame, b: DataFrame) -> DataFrame:
    """NQ = new_visited ∖ old_visited (bitmap ANDN analogue)."""
    return a.join(b, on=list(a.columns), how="left_anti")


def set_union(a: DataFrame, b: DataFrame) -> DataFrame:
    """visited ∪= NQ (bitmap OR analogue)."""
    return a.unionByName(b).dropDuplicates(list(a.columns))


def set_intersection(a: DataFrame, b: DataFrame) -> DataFrame:
    """frontier ∩ candidates (bitmap AND analogue)."""
    return a.join(b, on=list(a.columns), how="left_semi")


# ---------------------------------------------------------------------------
# Maximal independent set (Luby-style parallel rounds)
# ---------------------------------------------------------------------------

MIS_HASH_K = 2654435761
MIS_HASH_MOD = 1000000007  # < 2^30, so priority packing cannot overflow


def _mis_priority_expr(v: str) -> str:
    """Strict total priority order: hashed rank packed with the vertex
    id as tiebreak — p = h(v)·2^33 + v (h < 2^30 and v < 2^33 keep the
    packing inside int64; ids beyond 2^33 would need a wider pack).
    The hash randomizes the order so rounds converge in O(log n)
    w.h.p. — raw id priority degenerates to O(n) rounds on a path."""
    return (
        f"(({v} * {MIS_HASH_K}) % {MIS_HASH_MOD}) * 8589934592 + {v}"
    )


def maximal_independent_set(
    edges_clean: DataFrame,
    max_rounds: int = 40,
) -> DataFrame:
    """[vertex] — a maximal independent set of the symmetric clean
    graph: no two selected vertices are adjacent, and every
    unselected vertex has a selected neighbor.

    Luby-style rounds: each remaining vertex enters the set iff its
    hashed priority beats every remaining neighbor's; winners and
    their neighborhoods leave the game. Deterministic (fixed hash =
    fixed set), O(log n) rounds w.h.p., each round one equi-join +
    one grouped min + two semi/anti joins — all map-side-combinable
    shapes that survive 100 TB. Driver state is one count per round
    (the BFS/k-truss loop discipline); raises if max_rounds is hit
    so truncation can't masquerade as maximality."""
    from pyspark.sql import functions as F

    pr = F.expr(_mis_priority_expr("vertex"))
    remaining = (
        edges_clean.select(F.col("src").alias("vertex"))
        .distinct()
        .select("vertex", pr.alias("p"))
        .transform(truncate_plan_lazy)
    )
    with cached(edges_clean.select("src", "dst")) as edges:
        mis_parts: list[DataFrame] = []
        # Checkpointed state carries no stats, so every join against the
        # stationary edge table would otherwise shuffle it 4x per round;
        # the driver knows the remaining count from the previous round's
        # readout and injects broadcast() while it fits (bfs.py
        # discipline) — the per-round shuffles then reduce to the one
        # grouped min over the live edges.
        n_remaining = remaining.count()
        for _ in range(max_rounds):
            if n_remaining == 0:
                break
            rem = broadcast_if_fits(remaining, n_remaining)
            live_edges = (
                edges.join(
                    rem.select(F.col("vertex").alias("src")), "src",
                    "left_semi",
                ).join(
                    rem.select(F.col("vertex").alias("dst")), "dst",
                    "left_semi",
                )
            )
            nb_min = (
                live_edges.join(
                    rem.select(
                        F.col("vertex").alias("dst"), F.col("p").alias("pd")
                    ),
                    "dst",
                )
                .groupBy(F.col("src").alias("vertex"))
                .agg(F.min("pd").alias("min_nb_p"))
            )
            winners = (
                remaining.join(nb_min, "vertex", "left")
                .filter(
                    F.col("min_nb_p").isNull()
                    | (F.col("p") < F.col("min_nb_p"))
                )
                .select("vertex")
                # the winners' blocking broadcast build materializes it
                # before its other consumers run
                .transform(truncate_plan_for, n_remaining)
            )
            mis_parts.append(winners)
            win = broadcast_if_fits(winners, n_remaining)
            dropped = winners.unionAll(
                edges.join(
                    win.withColumnRenamed("vertex", "src"), "src",
                    "left_semi",
                ).select(F.col("dst").alias("vertex"))
            )
            # lazy checkpoint + count = one driver barrier per round
            nxt = remaining.join(
                dropped, "vertex", "left_anti"
            ).transform(truncate_plan_lazy)
            n_remaining = nxt.count()
            remaining = nxt
            if n_remaining == 0:
                break
        else:
            raise RuntimeError(
                "maximal_independent_set did not converge in"
                f" {max_rounds} rounds"
            )
    out = mis_parts[0]
    for part in mis_parts[1:]:
        out = out.unionAll(part)
    return out


def maximal_independent_set_sql(clean_sql: str, rounds: int = 14) -> str:
    """Unrolled Luby rounds — identical per-round semantics; rounds
    past the fixpoint are no-ops (empty remaining set stays empty),
    so a fixed unroll with margin is safe. MATERIALIZED for the same
    exponential-inlining reason as k_truss_sql."""
    p = _mis_priority_expr("vertex")
    parts = [
        f"WITH clean AS ({clean_sql})",
        "r0 AS MATERIALIZED (SELECT vertex,"
        f" {p} AS p FROM"
        " (SELECT DISTINCT src AS vertex FROM clean))",
    ]
    for i in range(rounds):
        parts.append(
            f"le{i} AS MATERIALIZED (SELECT e.src, e.dst FROM clean e"
            f" JOIN r{i} a ON a.vertex = e.src"
            f" JOIN r{i} b ON b.vertex = e.dst)"
        )
        parts.append(
            f"nm{i} AS MATERIALIZED (SELECT le.src AS vertex,"
            f" MIN(r.p) AS min_nb_p FROM le{i} le"
            f" JOIN r{i} r ON r.vertex = le.dst GROUP BY le.src)"
        )
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT r.vertex FROM r{i} r"
            f" LEFT JOIN nm{i} n ON n.vertex = r.vertex"
            " WHERE n.min_nb_p IS NULL OR r.p < n.min_nb_p)"
        )
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT vertex FROM w{i}"
            f" UNION SELECT e.dst AS vertex FROM clean e"
            f" JOIN w{i} w ON w.vertex = e.src)"
        )
        parts.append(
            f"r{i+1} AS MATERIALIZED (SELECT r.vertex, r.p FROM r{i} r"
            f" WHERE r.vertex NOT IN (SELECT vertex FROM d{i}))"
        )
    union = " UNION ALL ".join(
        f"SELECT vertex FROM w{i}" for i in range(rounds)
    )
    return ", ".join(parts) + " " + union
