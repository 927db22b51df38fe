"""Triangle counting via degree-ordered edge orientation.

Engine capability beyond the reference's own surface (its workload is
BFS only — /root/reference/mpi/bfs.hpp:2651-2940); triangle counting is
the standard clustering query over the same cleaned symmetric edge
table.

Algorithm (the MapReduce-classic of Suri & Vassilvitskii, WWW'11):
orient each undirected edge from its lower-(degree, id) endpoint to the
higher one. The orientation is a strict total order, so every triangle
{a,b,c} survives as exactly one directed path a→b→c plus the closing
edge a→c: wedges (join oriented edges on the middle vertex) semi-joined
against the oriented edge set enumerate each triangle exactly once.

Why degree-ordered (the scale argument): with arbitrary orientation a
hub of degree d generates O(d²) wedges — at 100 TB a single
10⁶-neighbor hub is 10¹² wedge rows. Ordering by degree bounds every
vertex's out-degree by O(√|E|) (each out-neighbor has ≥ its degree),
so wedge volume is O(|E|^{3/2}) worst-case — the optimal bound — and
the wedge join's skew collapses. Per-vertex counts are
orientation-INVARIANT (each triangle contributes once to each of its
three corners no matter how it was oriented), which is what makes the
simple src<dst DuckDB oracle valid against the degree-oriented engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from graph500_spark.functions.plantrunc import (
    truncate_plan,
    truncate_plan_lazy,
)
from graph500_spark.functions.sizing import (
    broadcast_if_fits,
    widen_narrow_input,
)


def orient_edges(edges_clean: DataFrame) -> DataFrame:
    """[lo, hi]: each undirected edge once, directed from the endpoint
    with smaller (degree, vertex) to the larger — acyclic by
    construction."""
    edges = edges_clean.select("src", "dst")
    deg = edges.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    half = edges.filter(F.col("src") < F.col("dst"))
    ranked = (
        half.join(deg.select(F.col("vertex").alias("src"),
                             F.col("degree").alias("sdeg")), "src")
        .join(deg.select(F.col("vertex").alias("dst"),
                         F.col("degree").alias("ddeg")), "dst")
    )
    fwd = F.struct("sdeg", "src") < F.struct("ddeg", "dst")
    return ranked.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("hi"),
    )


def triangles(edges_clean: DataFrame) -> DataFrame:
    """[a, b, c]: every triangle exactly once (a→b→c in orientation
    order).

    The oriented edge table is a lazy checkpoint leaf: it feeds all
    three join branches (ab/bc/ac) and Catalyst does not
    common-subexpression across plan branches, so without it the whole
    clean→degree→orient subtree (2 shuffles + the source scan) runs
    three times. The first action on the result materializes it; its
    blocks are reclaimed with the returned frame (ContextCleaner), so
    no CacheManager entry outlives the call, unlike a ``persist()``
    that nothing could release."""
    # The wedge join's fan-out stage inherits the oriented table's
    # layout when the other branches broadcast; a narrow persisted
    # fixture would run the O(|E|^{3/2}) compute on a fraction of the
    # machine — widen to full parallelism before the checkpoint,
    # probing the INPUT layout (cached fixture: plan-only, no job;
    # guide §2.5).
    oriented = widen_narrow_input(
        orient_edges(edges_clean), "lo", probe=edges_clean
    ).transform(truncate_plan_lazy)
    ab = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    return ab.join(bc, "b").join(ac, ["a", "c"], "left_semi").select(
        "a", "b", "c"
    )


def triangle_counts(edges_clean: DataFrame) -> DataFrame:
    """[vertex, triangles]: number of triangles each vertex belongs to
    (vertices in no triangle are omitted, matching the engine's
    reached-set convention)."""
    tri = triangles(edges_clean)
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("vertex")
    )
    return corners.groupBy("vertex").agg(
        F.count(F.lit(1)).alias("triangles")
    )


def clustering_coefficient(edges_clean: DataFrame) -> DataFrame:
    """[vertex, degree, coeff]: local clustering coefficient
    triangles(v) / C(deg(v), 2) for vertices with degree ≥ 2 (vertices
    in no triangle get coeff 0.0). Rounded to 5 — the cross-engine
    float convention."""
    deg = edges_clean.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    tri = triangle_counts(edges_clean)
    pairs = (F.col("degree") * (F.col("degree") - 1) / 2.0)
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "vertex", "left")
        .select(
            "vertex",
            "degree",
            F.round(
                F.coalesce(F.col("triangles"), F.lit(0)) / pairs, 5
            ).alias("coeff"),
        )
    )


def global_triangle_count(edges_clean: DataFrame) -> DataFrame:
    """[n_triangles]: single-row global triangle count."""
    return triangles(edges_clean).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def common_neighbors_topk(
    edges_clean: DataFrame,
    k: int = 100,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Link-prediction primitive: the k vertex pairs with the most
    common neighbors — [u, v, n_common], u < v, ordered by (n_common
    desc, u, v).

    Exact form: one wedge self-join of the symmetric adjacency on the
    center vertex (each shared neighbor contributes exactly one wedge)
    + a map-side-combinable (u, v) count + distributed TakeOrdered.
    A degree-d hub center emits O(d²) wedges, so at scale pass
    ``max_center_degree``: hub centers beyond the cap are dropped
    (their wedge contribution is the all-pairs trap; the top pairs of
    interest are driven by many MODERATE shared neighbors, while a
    10⁶-degree hub connecting everything carries almost no signal —
    the same skew argument as the triangles orientation, traded here
    as an explicit approximation knob instead of an exact reorder
    because open-wedge counts, unlike triangles, are not
    orientation-invariant)."""
    edges = edges_clean.select("src", "dst")
    if max_center_degree is not None:
        deg = edges.groupBy(F.col("src").alias("w")).agg(
            F.count(F.lit(1)).alias("wdeg")
        )
        centers = deg.filter(F.col("wdeg") <= max_center_degree).select("w")
        edges = edges.join(
            centers.withColumnRenamed("w", "src"), "src", "left_semi"
        )
    # full-machine width for the quadratic wedge stage when the
    # fixture layout is narrower (guide §2.5; probe is plan-only)
    edges = widen_narrow_input(edges, "src", probe=edges_clean)
    a = edges.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    b = edges.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    wedges = a.join(b, "w").filter(F.col("u") < F.col("v"))
    return (
        wedges.groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .orderBy(F.col("n_common").desc(), F.col("u").asc(), F.col("v").asc())
        .limit(k)
    )


def common_neighbors_topk_sql(clean_sql: str, k: int = 100) -> str:
    return (
        f"WITH clean AS ({clean_sql}),"
        " wedges AS (SELECT a.dst AS u, b.dst AS v FROM clean a"
        " JOIN clean b ON a.src = b.src AND a.dst < b.dst)"
        " SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common"
        " FROM wedges GROUP BY u, v"
        f" ORDER BY n_common DESC, u ASC, v ASC LIMIT {k}"
    )


AA_SCALE = 1_000_000


def adamic_adar_topk(
    edges_clean: DataFrame,
    k: int = 100,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar link prediction, ALL-PAIRS variant (adjacent pairs
    included): like common_neighbors_topk but each shared neighbor w
    contributes 1/ln(deg(w)) — rare shared neighbors are stronger
    evidence than hubs. [u, v, aa_q], quantized to round(10^6/ln(deg))
    integers so per-pair sums are exact and shuffle-order-free.

    Thin wrapper over the shared wedge-scoring kernel in
    `operators/linkpred.py` (which also hosts the NON-EDGE variant
    `adamic_adar_topk` with the certified exact-top-k hub machinery);
    here ``max_center_degree`` is the documented APPROXIMATE knob —
    capped centers simply stop contributing."""
    from graph500_spark.operators.linkpred import (
        _center_terms,
        _scored_pairs,
    )

    edges = edges_clean.select("src", "dst")
    terms = _center_terms(edges)
    if max_center_degree is not None:
        terms = terms.where(F.col("deg") <= max_center_degree)
    return (
        _scored_pairs(edges, terms)
        .select("u", "v", F.col("score_q").alias("aa_q"))
        .orderBy(F.col("aa_q").desc(), F.col("u").asc(), F.col("v").asc())
        .limit(k)
    )


JACCARD_SCALE = 1_000_000


def jaccard_topk(
    edges_clean: DataFrame,
    k: int = 100,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction: top-k vertex pairs by
    |N(u)∩N(v)| / |N(u)∪N(v)| — [u, v, n_common, union_size,
    jaccard_q], u < v, ordered by (jaccard_q desc, u, v).

    VERIFIER / BASELINE — do NOT run standalone at 100 TB scale.
    The exact form is one wedge self-join of the symmetric adjacency
    on the shared-neighbor center: Σ deg(z)² rows, so a single
    10⁶-degree hub emits 10¹² wedges. Unlike the ADDITIVE scores
    (see `operators/linkpred.py`), a ratio score admits NO certified
    hub cap: the c + H₂ certificate bounds what hub centers can add
    to a pair's score, but Jaccard needs a bound on what they can
    add to its RANK — counterexample: two degree-2 vertices whose
    only two neighbors are both hubs have Jaccard 1.0 (the global
    maximum) with ZERO low-center wedge evidence, so no candidate
    list built from capped centers can contain them and no additive
    bound can certify their absence. Scale twins computing the same
    similarity relation bucketed, never all-pairs:
      * threshold form — `dedup.minhash_near_duplicates` (LSH bands)
        or `dedup.setsim_join_prefix` (PPJoin prefix filter) over
        neighbor lists as token sets;
      * top-k under an EXPLICITLY approximate contract —
        `max_center_degree` here (capped hub centers silently stop
        contributing, documented-approximate, hub-only pairs missed
        per the counterexample above);
      * exact top-k at scale — use the certified additive scores
        (`linkpred.adamic_adar_topk`, `common_neighbors_topk_
        certified`) as the ranking and this operator only to verify
        a bounded candidate set.
    Plan: wedge join + one broadcast-or-shuffle join of the degree
    table onto each pair. The score is integer-exact: jaccard_q =
    (10^6·cn) div (deg_u + deg_v − cn) — truncating integer division
    over positive longs, identical in Spark (`div`) and DuckDB
    (`//`), so the ranking is shuffle-order-free and cross-engine
    stable (the kmeans_cells quantization discipline applied to a
    ratio score)."""
    edges = edges_clean.select("src", "dst")
    deg = edges.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    centers = edges
    if max_center_degree is not None:
        ok = deg.filter(F.col("degree") <= max_center_degree).select(
            F.col("vertex").alias("src")
        )
        centers = edges.join(ok, "src", "left_semi")
    centers = widen_narrow_input(centers, "src", probe=edges_clean)
    a = centers.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    b = centers.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    cn = (
        a.join(b, "w")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    paired = cn.join(
        deg.select(F.col("vertex").alias("u"), F.col("degree").alias("du")),
        "u",
    ).join(
        deg.select(F.col("vertex").alias("v"), F.col("degree").alias("dv")),
        "v",
    )
    union_size = (F.col("du") + F.col("dv") - F.col("n_common")).cast("long")
    return (
        paired.select(
            "u",
            "v",
            "n_common",
            union_size.alias("union_size"),
            F.expr(f"({JACCARD_SCALE}L * n_common) div (du + dv - n_common)")
            .cast("long")
            .alias("jaccard_q"),
        )
        .orderBy(
            F.col("jaccard_q").desc(), F.col("u").asc(), F.col("v").asc()
        )
        .limit(k)
    )


def jaccard_topk_sql(clean_sql: str, k: int = 100) -> str:
    return (
        f"WITH clean AS ({clean_sql}),"
        " deg AS (SELECT src AS vertex, CAST(COUNT(*) AS BIGINT) AS degree"
        " FROM clean GROUP BY src),"
        " cn AS (SELECT a.dst AS u, b.dst AS v,"
        " CAST(COUNT(*) AS BIGINT) AS n_common FROM clean a"
        " JOIN clean b ON a.src = b.src AND a.dst < b.dst GROUP BY u, v)"
        " SELECT cn.u, cn.v, cn.n_common,"
        " CAST(du.degree + dv.degree - cn.n_common AS BIGINT) AS union_size,"
        f" CAST(({JACCARD_SCALE} * cn.n_common)"
        " // (du.degree + dv.degree - cn.n_common) AS BIGINT) AS jaccard_q"
        " FROM cn JOIN deg du ON du.vertex = cn.u"
        " JOIN deg dv ON dv.vertex = cn.v"
        f" ORDER BY jaccard_q DESC, u ASC, v ASC LIMIT {k}"
    )


def _orient_half(edges_half: DataFrame) -> DataFrame:
    """[u, v, lo, hi]: half-edges (u < v by id) annotated with their
    degree orientation — lo is the lower-(degree, id) endpoint. One
    degree aggregation + two joins; callers compute it ONCE and carry
    the columns (orientation under any fixed strict total order keeps
    the O(√|E|) out-neighborhood bound, so peeling loops need not
    re-rank the shrinking subgraph)."""
    deg = (
        edges_half.select(F.col("u").alias("vertex"))
        .unionAll(edges_half.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    ranked = edges_half.join(
        deg.select(F.col("vertex").alias("u"), F.col("degree").alias("du")),
        "u",
    ).join(
        deg.select(F.col("vertex").alias("v"), F.col("degree").alias("dv")),
        "v",
    )
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    return ranked.select(
        "u",
        "v",
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("hi"),
    )


def _edge_support_oriented(half_oriented: DataFrame) -> DataFrame:
    """[u, v, support] from a pre-oriented half-edge set ([u, v, lo,
    hi], see `_orient_half`): wedges join on the middle vertex of the
    ORIENTED edges (hub-safe — a degree-oriented out-neighborhood is
    O(√|E|) wide, so wedge volume is the optimal O(|E|^{3/2}) instead
    of the id-ordered join's hub-quadratic Σ deg(v)²), a semi-join
    closes each triangle, and each triangle charges its three sides
    back to their (min, max)-by-id keys. Support per undirected edge
    is orientation-INVARIANT, so the plain u<v SQL oracle is
    unchanged."""
    ab = half_oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = half_oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = half_oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"], "left_semi")
    sides = (
        tri.select(F.least("a", "b").alias("u"),
                   F.greatest("a", "b").alias("v"))
        .unionAll(tri.select(F.least("b", "c").alias("u"),
                             F.greatest("b", "c").alias("v")))
        .unionAll(tri.select(F.least("a", "c").alias("u"),
                             F.greatest("a", "c").alias("v")))
    )
    return sides.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )


def edge_support(edges_half: DataFrame) -> DataFrame:
    """[u, v, support]: triangles through each undirected edge, from
    the half-edge (u < v) representation — degree-oriented wedge
    enumeration (see `_edge_support_oriented` for the scale argument);
    the oriented set is materialized once because it feeds all three
    wedge-join branches."""
    return _edge_support_oriented(
        widen_narrow_input(
            _orient_half(edges_half), "lo", probe=edges_half
        ).transform(truncate_plan)
    )


def k_truss(
    edges_clean: DataFrame, k: int = 4, max_rounds: int = 30
) -> DataFrame:
    """k-truss decomposition: the maximal subgraph in which every
    edge lies in ≥ k−2 triangles — [u, v, support], u < v, with the
    fixpoint support.

    INCREMENTAL peel (round 7): full support is computed ONCE over the
    degree-oriented wedge join (`_edge_support_oriented` — O(|E|^{3/2})
    wedge volume, hub-safe), then each round only accounts for the
    triangles DESTROYED by that round's removals: removing edge set R
    deletes exactly the triangles containing ≥ 1 R-edge, so each
    surviving side's support drops by its count of such triangles.
    Those triangles are enumerated from R outward — removed edges join
    the adjacency on their LOWER-degree endpoint (Σ_R deg(lo) rows,
    linear in the removed neighborhood, never a wedge self-join),
    triple-normalized and deduped (covers triangles with 2–3 removed
    sides once). Per-round cost is proportional to what was peeled,
    not to the surviving graph — on real graphs most edges survive,
    so rounds after the first are near-free where the previous
    formulation re-ran the full wedge join every round.

    Orientation is computed once from original degrees (a fixed strict
    total order keeps every out-neighborhood O(√|E|); peeling only
    shrinks neighborhoods) and carried as [lo, hi]. Driver state is
    one count per round (BFS-loop discipline); state is checkpointed
    per round so plan depth stays O(1). The DuckDB oracle unrolls
    full-recompute peel rounds over the plain u<v representation —
    valid because (a) support is orientation-invariant and (b) the
    delta update maintains exactly "triangles within the current
    graph", so engine and oracle agree at the fixpoint; the engine
    raises if max_rounds is hit without convergence, so a silent
    truncation can never masquerade as the fixpoint."""
    half = (
        edges_clean.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    half_or = _orient_half(half).transform(truncate_plan)
    # the one-shot O(|E|^{3/2}) support pass gets full-machine width
    # (guide §2.5); the loop state keeps the input layout
    sup = _edge_support_oriented(
        widen_narrow_input(half_or, "lo", probe=half_or)
    )
    # LEFT join + coalesce(0): triangle-free edges must enter the peel
    # with support 0 (k=2 ⇒ the 2-truss is the whole graph; an inner
    # join would silently drop them — only coincidentally harmless for
    # k ≥ 3, where round 1 removes them anyway).
    cur = (
        half_or.join(sup, ["u", "v"], "left")
        .select(
            "u", "v", "lo", "hi",
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
        )
        # lazy: the per-round removed.count() below materializes the
        # state in the SAME job — one driver barrier per round
        .transform(truncate_plan_lazy)
    )
    for _ in range(max_rounds):
        removed = cur.filter(F.col("support") < k - 2)
        # one scalar job drives the fixpoint test, the broadcast
        # decision AND the state materialization (lazy checkpoint)
        n_removed = removed.count()
        if n_removed == 0:
            return cur.select("u", "v", "support")
        survivors = cur.filter(F.col("support") >= k - 2)
        adj = cur.select(
            F.col("u").alias("a"), F.col("v").alias("b")
        ).unionAll(cur.select(F.col("v").alias("a"), F.col("u").alias("b")))
        # triangles of the CURRENT graph containing >=1 removed edge:
        # enumerate z from the removed edge's lower-degree endpoint;
        # the removed side is driver-known-small after round 1
        # (peeled edges shrink monotonically) — broadcast it while it
        # fits instead of shuffling the adjacency both ways
        rz = (
            broadcast_if_fits(removed.select("lo", "hi"), n_removed)
            .join(
                adj.select(F.col("a").alias("lo"), F.col("b").alias("z")),
                "lo",
            )
            .join(
                adj.select(F.col("a").alias("hi"), F.col("b").alias("z")),
                ["hi", "z"],
                "left_semi",
            )
        )
        tri = rz.select(
            F.least("lo", "hi", "z").alias("t1"),
            (
                F.col("lo") + F.col("hi") + F.col("z")
                - F.least("lo", "hi", "z")
                - F.greatest("lo", "hi", "z")
            ).alias("t2"),
            F.greatest("lo", "hi", "z").alias("t3"),
        ).distinct()
        dec = (
            tri.select(F.col("t1").alias("u"), F.col("t2").alias("v"))
            .unionAll(
                tri.select(F.col("t1").alias("u"), F.col("t3").alias("v"))
            )
            .unionAll(
                tri.select(F.col("t2").alias("u"), F.col("t3").alias("v"))
            )
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).cast("long").alias("dec"))
        )
        cur = (
            survivors.join(dec, ["u", "v"], "left")
            .select(
                "u",
                "v",
                "lo",
                "hi",
                (
                    F.col("support")
                    - F.coalesce(F.col("dec"), F.lit(0))
                )
                .cast("long")
                .alias("support"),
            )
            .transform(truncate_plan_lazy)
        )
    raise RuntimeError(
        f"k_truss did not converge in {max_rounds} rounds"
    )


def k_truss_sql(clean_sql: str, k: int = 4, rounds: int = 8) -> str:
    """Unrolled peel oracle — `rounds` must be ≥ the engine's
    convergence round count at the tested scale (extra rounds are
    identity once the fixpoint is reached)."""
    # MATERIALIZED is load-bearing: each round references the prior
    # half-edge set ~4×, so un-materialized CTEs inline exponentially
    # (4^rounds base-table scans — the bfs_depth_k_sql lesson).
    parts = [
        f"WITH clean AS ({clean_sql})",
        "h0 AS MATERIALIZED"
        " (SELECT src AS u, dst AS v FROM clean WHERE src < dst)",
    ]
    for i in range(rounds):
        parts.append(
            f"t{i} AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c"
            f" FROM h{i} e1 JOIN h{i} e2 ON e2.u = e1.v"
            f" JOIN h{i} e3 ON e3.u = e1.u AND e3.v = e2.v)"
        )
        parts.append(
            f"s{i} AS MATERIALIZED"
            f" (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS support"
            f" FROM (SELECT a AS u, b AS v FROM t{i}"
            f" UNION ALL SELECT b AS u, c AS v FROM t{i}"
            f" UNION ALL SELECT a AS u, c AS v FROM t{i}) GROUP BY u, v)"
        )
        parts.append(
            f"h{i+1} AS MATERIALIZED (SELECT h.u, h.v, s.support FROM h{i} h"
            f" JOIN s{i} s ON s.u = h.u AND s.v = h.v"
            f" WHERE s.support >= {k - 2})"
        )
    return (
        ", ".join(parts)
        + f" SELECT u, v, support FROM h{rounds}"
    )


def adamic_adar_topk_sql(clean_sql: str, k: int = 100) -> str:
    return (
        f"WITH clean AS ({clean_sql}),"
        " deg AS (SELECT src AS w, COUNT(*) AS wdeg FROM clean GROUP BY src),"
        " weights AS (SELECT w,"
        f" CAST(round({AA_SCALE}.0 / ln(wdeg)) AS BIGINT) AS w_q"
        " FROM deg WHERE wdeg >= 2),"
        " wedges AS (SELECT a.dst AS u, b.dst AS v, wt.w_q FROM clean a"
        " JOIN clean b ON a.src = b.src AND a.dst < b.dst"
        " JOIN weights wt ON wt.w = a.src)"
        " SELECT u, v, CAST(SUM(w_q) AS BIGINT) AS aa_q"
        " FROM wedges GROUP BY u, v"
        f" ORDER BY aa_q DESC, u ASC, v ASC LIMIT {k}"
    )


def _k4_hinge_count(
    oriented: DataFrame, tri: DataFrame, deg: DataFrame, alias: str
) -> DataFrame:
    """One-row [alias] — K4 count from an oriented-triangle table via
    the HINGE plan: pair triangles sharing their (a, b) prefix (the
    K4's two orientation-smallest vertices), order the third corners
    by the SAME (degree, id) key orient_edges uses, and semi-join the
    (c1, c2) pair against the oriented edge list. Every K4 {w≺x≺y≺z}
    is counted exactly once — at hinge (w, x), as the pair (y, z).

    Why hinge instead of the kClist extension chain (tri ⋈ out(a)
    semi out(b) semi out(c)): the extension materializes
    Σ_tri outdeg(a) rows before filtering — 223M on Kronecker s14,
    measured 22-34s with EVERY task uniformly busy (not skew: AQE
    coalesces the small-bytes tri exchange while the in-task
    expansion is 80× larger). The hinge candidate volume is
    Σ_(a,b) C(t_ab, 2) = 39M on the same graph — bounded per hinge by
    C(outdeg, 2) since t_ab ≤ outdeg(a) — measured 7.5s, max task
    5.4s, identical count (PLANS.md round 9). Both are O(|E|^{3/2});
    the hinge form's constant tracks the diamond count instead of the
    triangle-times-outdegree product."""
    trid = tri.join(
        deg.select(F.col("vertex").alias("c"), F.col("degree").alias("dc")),
        "c",
    )
    u1 = trid.select(
        "a", "b", F.col("c").alias("c1"), F.col("dc").alias("d1")
    )
    u2 = trid.select(
        "a", "b", F.col("c").alias("c2"), F.col("dc").alias("d2")
    )
    cd = oriented.select(F.col("lo").alias("c1"), F.col("hi").alias("c2"))
    return (
        u1.join(u2, ["a", "b"])
        .filter(F.struct("d1", "c1") < F.struct("d2", "c2"))
        .join(cd, ["c1", "c2"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias(alias))
    )


def four_clique_count(edges_clean: DataFrame) -> DataFrame:
    """[n_four_cliques] — global count of K4 subgraphs, the densest
    4-vertex graphlet (graph-ML feature / community-density signal).

    Degree-oriented hinge enumeration: every K4 appears exactly once
    as a pair of oriented triangles sharing the K4's two
    orientation-smallest vertices, with the larger-corner pair closed
    by an oriented edge (see _k4_hinge_count for the plan rationale
    vs the kClist extension chain it replaced in round 9). Candidate
    volume is bounded by C(outdeg, 2) per hinge — hub-safe where a
    naive 6-way edge join is hub-quartic. The oriented table is
    materialized once via truncate_plan (it feeds multiple join
    branches; plain persist() with no unpersist would accumulate
    cached copies across the bench's repeated runs — superseded
    checkpoint blocks are instead reclaimed by the ContextCleaner
    when the frame goes out of scope)."""
    deg = edges_clean.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    oriented = orient_edges(edges_clean).transform(truncate_plan)
    ab = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    # tri feeds BOTH sides of the hinge self-join — materialize it
    # once (Catalyst does not CSE across plan branches)
    tri = (
        ab.join(bc, "b")
        .join(ac, ["a", "c"], "left_semi")
        .transform(truncate_plan)
    )
    return _k4_hinge_count(oriented, tri, deg, "n_four_cliques")


def four_clique_count_sql(clean_sql: str) -> str:
    """Plain a<b<c<d 6-way join oracle — valid against the oriented
    engine because each K4 is counted exactly once either way."""
    return (
        f"WITH clean AS ({clean_sql}),"
        " h AS (SELECT src AS x, dst AS y FROM clean WHERE src < dst)"
        " SELECT CAST(COUNT(*) AS BIGINT) AS n_four_cliques"
        " FROM h e1 JOIN h e2 ON e2.x = e1.x AND e2.y > e1.y"
        " JOIN h e3 ON e3.x = e1.x AND e3.y > e2.y"
        " JOIN h e4 ON e4.x = e1.y AND e4.y = e2.y"
        " JOIN h e5 ON e5.x = e1.y AND e5.y = e3.y"
        " JOIN h e6 ON e6.x = e2.y AND e6.y = e3.y"
    )


def four_cycle_count(edges_clean: DataFrame) -> DataFrame:
    """[n_four_cycles] — EXACT global count of simple 4-cycles via
    degree-oriented wedge enumeration (Chiba–Nishizeki / ESCAPE).

    Let ≺ be the acyclic degree-orientation order and, for an
    endpoint pair {p, q}, let W(p, q) = # common neighbors w with
    w ≺ max≺(p, q). Then
        C4 = Σ_{p,q} C(W(p,q), 2):
    every 4-cycle is counted exactly once, at the diagonal pair that
    CONTAINS the cycle's maximum vertex M — there all other three
    vertices (including both centers) precede the pair's max = M,
    while at the opposite diagonal M itself is a center exceeding
    both endpoints, so that pair sees W ≤ 1 and contributes nothing.
    The qualifying centers split by DAG wedge type into OO (w ≺ both
    endpoints — an unordered pair of w's out-neighbors) and IO
    (p ≺ w ≺ q — a directed 2-path p→w→q); II centers (w ≻ both) are
    exactly the excluded ones.

    Why this is the hub-safe exact plan (the round-7 weak flag): the
    plain cn-based identity needs ALL wedges — Σ deg(w)² rows, 10¹²
    for one 10⁶-degree hub. Here OO wedges cost Σ C(outdeg,2) and IO
    wedges Σ indeg(w)·outdeg(w); outdeg ≤ O(√|E|) under degree
    orientation, and the unbounded in-degree only ever multiplies the
    bounded out-degree, so BOTH streams are O(|E|^{3/2}) — the same
    optimal bound as triangle counting, with no approximation knob.
    The plain-cn SQL oracle is unchanged: both formulas count every
    cycle exactly once. W·(W−1)/2 is summed in DECIMAL(38,0) (big
    product-sum discipline) before the final BIGINT cast."""
    oriented = orient_edges(edges_clean).transform(truncate_plan)
    return _c4_wedge_counts(oriented).agg(
        F.expr(
            "cast(sum(cast(nw as decimal(38,0)) * (nw - 1) div 2)"
            " as bigint)"
        ).alias("n_four_cycles")
    )


C4_IO_SALT = 8


def _c4_wedge_counts(oriented: DataFrame) -> DataFrame:
    """[p, q, nw] — W(p, q) = # common neighbors w of the pair with
    w ≺ max≺(p, q), counted from the oriented DAG as OO wedges
    (unordered pairs of w's out-neighbors) + IO wedges (directed
    2-paths a→w→b).

    The IO join is SALTED: although its total volume is bounded
    (Σ indeg(w)·outdeg(w) ≤ O(|E|^{3/2})), the OUTPUT rows of one
    high-in-degree hub key all land in one join task (AQE's skew
    split cannot divide a single key's build×probe product), so on
    hub-heavy graphs one task holds indeg·outdeg ≈ millions of rows.
    Salting the in-edge side by hash(a) mod C4_IO_SALT and
    replicating the (small, out-degree-bounded) out-edge side per
    salt splits that product C4_IO_SALT ways — measured on Kronecker
    s14: 13.9 s → 5.6 s wall, max task 6.4 s → sub-second, identical
    counts; the ×8 replication is ≤ 8|E| rows of two longs."""
    spark = oriented.sparkSession
    o1 = oriented.select(F.col("lo").alias("w"), F.col("hi").alias("p"))
    o2 = oriented.select(F.col("lo").alias("w"), F.col("hi").alias("q"))
    oo = o1.join(o2, "w").filter(F.col("p") < F.col("q")).select("p", "q")
    ins = oriented.select(
        F.col("lo").alias("a"),
        F.col("hi").alias("w"),
        F.pmod(F.hash("lo"), F.lit(C4_IO_SALT)).alias("salt"),
    )
    outs = oriented.select(
        F.col("lo").alias("w"), F.col("hi").alias("b")
    ).crossJoin(
        spark.range(C4_IO_SALT).select(F.col("id").cast("int").alias("salt"))
    )
    io = ins.join(outs, ["w", "salt"]).select(
        F.least("a", "b").alias("p"), F.greatest("a", "b").alias("q")
    )
    return (
        oo.unionAll(io)
        .groupBy("p", "q")
        .agg(F.count(F.lit(1)).cast("long").alias("nw"))
    )


def four_cycle_count_sql(clean_sql: str) -> str:
    return (
        f"WITH clean AS ({clean_sql}),"
        " cn AS (SELECT a.dst AS u, b.dst AS v, COUNT(*) AS cn"
        " FROM clean a JOIN clean b"
        " ON a.src = b.src AND a.dst < b.dst GROUP BY 1, 2)"
        " SELECT CAST(SUM(cn * (cn - 1) // 2) // 2 AS BIGINT)"
        " AS n_four_cycles FROM cn"
    )


def edge_clustering(edges_clean: DataFrame) -> DataFrame:
    """[u, v, support, min_deg, ec_ppm] — Radicchi edge-clustering
    coefficient per undirected edge: support / (min(deg_u, deg_v) − 1),
    the fraction of possible triangles through the edge that exist
    (low values mark inter-community bridges; support-0 edges with
    min_deg ≥ 2 are genuine local bridges and ARE emitted). Edges with
    min_deg = 1 are omitted (denominator 0 — a pendant edge closes no
    triangle by construction). ppm-quantized integer division, exact
    cross-engine. One degree-oriented support pass + two degree joins."""
    half = (
        edges_clean.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    sup = edge_support(half)
    deg = edges_clean.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    joined = (
        half.join(sup, ["u", "v"], "left")
        .join(deg.select(F.col("vertex").alias("u"),
                         F.col("degree").alias("du")), "u")
        .join(deg.select(F.col("vertex").alias("v"),
                         F.col("degree").alias("dv")), "v")
        .select(
            "u",
            "v",
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
            F.least("du", "dv").cast("long").alias("min_deg"),
        )
    )
    return joined.filter(F.col("min_deg") >= 2).select(
        "u",
        "v",
        "support",
        "min_deg",
        F.expr(
            "CAST((1000000 * support) div (min_deg - 1) AS BIGINT)"
        ).alias("ec_ppm"),
    )


def edge_clustering_sql(clean_sql: str) -> str:
    return (
        f"WITH clean AS ({clean_sql}),"
        " h AS (SELECT src AS u, dst AS v FROM clean WHERE src < dst),"
        " tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c"
        "  FROM h e1 JOIN h e2 ON e2.u = e1.v"
        "  JOIN h e3 ON e3.u = e1.u AND e3.v = e2.v),"
        " sup AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS support"
        "  FROM (SELECT a AS u, b AS v FROM tri"
        "   UNION ALL SELECT b AS u, c AS v FROM tri"
        "   UNION ALL SELECT a AS u, c AS v FROM tri) GROUP BY u, v),"
        " deg AS (SELECT src AS vertex, CAST(COUNT(*) AS BIGINT) AS degree"
        "  FROM clean GROUP BY src)"
        " SELECT h.u, h.v,"
        "  CAST(COALESCE(s.support, 0) AS BIGINT) AS support,"
        "  CAST(LEAST(du.degree, dv.degree) AS BIGINT) AS min_deg,"
        "  CAST((1000000 * COALESCE(s.support, 0))"
        "   // (LEAST(du.degree, dv.degree) - 1) AS BIGINT) AS ec_ppm"
        " FROM h LEFT JOIN sup s ON s.u = h.u AND s.v = h.v"
        " JOIN deg du ON du.vertex = h.u"
        " JOIN deg dv ON dv.vertex = h.v"
        " WHERE LEAST(du.degree, dv.degree) >= 2"
    )


def truss_numbers(
    edges_clean: DataFrame, max_rounds: int = 400
) -> DataFrame:
    """[u, v, trussness] — truss decomposition: for every undirected
    edge, the maximum k such that the edge belongs to the k-truss
    (every edge has trussness ≥ 2; edges in no triangle get exactly 2).

    Ascending-k peel over the INCREMENTAL support machinery: full
    degree-oriented support is computed once, then phases k = 3, 4, …
    each peel to the k-fixpoint; an edge removed during phase k has
    trussness k−1. Every removal round only enumerates the triangles
    destroyed by that round's removals (see `k_truss`), so total work
    is one full support pass plus work proportional to Σ removals —
    the same bound as a single k_truss call, NOT max_k times it.
    Driver state is one emptiness probe per round; assigned edges
    accumulate in a per-phase unioned frame that is checkpointed each
    phase so plan depth stays O(1).

    No SQL oracle (unbounded-k iterative fixpoint — rows-only by
    design); pinned instead by a randomized brute-force parity test
    and the cross-check that {e : trussness(e) ≥ k} equals k_truss(k)
    membership for several k."""
    half = (
        edges_clean.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    half_or = _orient_half(half).transform(truncate_plan)
    sup = _edge_support_oriented(
        widen_narrow_input(half_or, "lo", probe=half_or)
    )
    cur = (
        half_or.join(sup, ["u", "v"], "left")
        .select(
            "u", "v", "lo", "hi",
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
        )
        # lazy: the per-round probe below materializes the state in
        # the same job (count computes every partition, so the local
        # checkpoint completes within the probe job)
        .transform(truncate_plan_lazy)
    )
    spark = edges_clean.sparkSession
    assigned = spark.createDataFrame(
        [], "u long, v long, trussness long"
    )
    k = 3
    rounds = 0
    while cur.count() != 0:
        phase_parts = []
        while True:
            rounds += 1
            if rounds > max_rounds:
                raise RuntimeError(
                    f"truss_numbers did not converge in {max_rounds}"
                    " rounds"
                )
            removed = cur.filter(F.col("support") < k - 2)
            # count (not isEmpty): computes all partitions, so it both
            # probes and completes the lazy checkpoint in one job
            if removed.count() == 0:
                break
            phase_parts.append(
                removed.select(
                    "u", "v", F.lit(k - 1).cast("long").alias("trussness")
                )
            )
            survivors = cur.filter(F.col("support") >= k - 2)
            adj = cur.select(
                F.col("u").alias("a"), F.col("v").alias("b")
            ).unionAll(
                cur.select(F.col("v").alias("a"), F.col("u").alias("b"))
            )
            rz = (
                removed.select("lo", "hi")
                .join(
                    adj.select(F.col("a").alias("lo"),
                               F.col("b").alias("z")),
                    "lo",
                )
                .join(
                    adj.select(F.col("a").alias("hi"),
                               F.col("b").alias("z")),
                    ["hi", "z"],
                    "left_semi",
                )
            )
            tri = rz.select(
                F.least("lo", "hi", "z").alias("t1"),
                (
                    F.col("lo") + F.col("hi") + F.col("z")
                    - F.least("lo", "hi", "z")
                    - F.greatest("lo", "hi", "z")
                ).alias("t2"),
                F.greatest("lo", "hi", "z").alias("t3"),
            ).distinct()
            dec = (
                tri.select(F.col("t1").alias("u"), F.col("t2").alias("v"))
                .unionAll(tri.select(F.col("t1").alias("u"),
                                     F.col("t3").alias("v")))
                .unionAll(tri.select(F.col("t2").alias("u"),
                                     F.col("t3").alias("v")))
                .groupBy("u", "v")
                .agg(F.count(F.lit(1)).cast("long").alias("dec"))
            )
            cur = (
                survivors.join(dec, ["u", "v"], "left")
                .select(
                    "u", "v", "lo", "hi",
                    (F.col("support")
                     - F.coalesce(F.col("dec"), F.lit(0)))
                    .cast("long")
                    .alias("support"),
                )
                .transform(truncate_plan_lazy)
            )
        if phase_parts:
            part = phase_parts[0]
            for p in phase_parts[1:]:
                part = part.unionAll(p)
            assigned = assigned.unionAll(part).transform(truncate_plan)
        k += 1
    return assigned
