"""Distributed Louvain community detection — the local-moving phase
(Blondel et al. 2008) as a level-synchronous Spark dataflow with
EXACT integer move decisions.

Semantics. Every vertex starts in its own community; each iteration
every (parity-eligible) vertex considers moving to a neighboring
community and takes the move with the largest positive modularity
gain. For an unweighted symmetric graph, moving v from community a
to community c changes Q by

    dQ ~ 2m*(k_{v,c} - k_{v,a'}) - deg_v*(D_c - D_{a'})

where k_{v,c} counts v's edges into c, D_c sums member degrees, and
a' is a with v removed (D_{a'} = D_a - deg_v). The proportionality
constant 1/(2m^2) is positive, so the INTEGER right-hand side
decides the move exactly — no float appears anywhere, making the
fixpoint deterministic and shuffle-order-free (the discipline every
iterative operator here follows; see operators/centrality.py).

Plan shape (the part that matters at scale). The candidate argmax
over target communities c != a does NOT depend on k_{v,a'} or
D_{a'} — those are per-vertex constants, so they only gate the
accept test, never which candidate wins. That lets the whole move
decision collapse into ONE groupBy(vertex) over the annotated
k_{v,c} table:

    best_c   = argmax_c [ 2m*k_c - deg*D_c ]   (cd != ca rows)
    own_k    = the cd == ca row's k (0 when absent)
    accept   = best_score > 2m*own_k - deg*(D_a - deg)

Crucially this avoids SELF-JOINING a derived plan: an earlier
formulation joined two filters of the same aggregated `annotated`
frame back together ("own" x "cand"), and under Spark 4.1 + AQE
that diamond makes each iteration ~5x slower than the previous one
— geometric blowup with CONSTANT SQL plan size, RDD lineage, job /
stage / task counts (measured: iters 10..13 ran 3s, 13s, 59s, 286s
on a 997-vertex graph; the minimal repro is in PLANS.md). Joins of
plain leaf-children (aggregates of the checkpointed state) are
fine; re-joining two branches of one shuffled sub-plan inside an
iterative loop is the pathology. Every join below therefore hangs
directly off checkpoint leaves or the stationary edge cache.

Per iteration: one groupBy(community) for degree sums
(|communities| rows), one edges |><| communities join + grouped
count for the k_{v,c} table (the only corpus-scale shuffle — on
dst, then src, the same keys BFS shuffles on), one groupBy(vertex)
argmax with a total tiebreak (score desc, community asc), and one
scalar readout. localCheckpoint per iteration bounds lineage;
superseded non-best states are unpersisted so cached blocks stay
O(2 x |V|).

Oscillation control. Synchronous moves can cycle (the classic
bipartite swap). Two defenses: (1) parity alternation — on
iteration t only vertices with (vertex + t) % 2 == 0 may move,
deterministically halving the frontier; (2) exact integer
modularity tracking — Q*(2m)^2 = within*2m - sum_c D_c^2 is
computed each round from quantities the loop already aggregates
(within = sum_v own_k), and the RETURNED assignment is the best
ever seen (earliest iteration on ties). Rotational 3-cycles that
parity alone cannot kill therefore cost iterations, never quality,
and termination is unconditional at max_iters.

The fixpoint is not expressible as one SQL statement (iterative
argmax with feedback); the driver gate records the entries
rows-only, and tests/test_louvain.py pins exact communities on
planted-partition graphs plus a modularity-improvement cross-check
through the oracle-checked stats.modularity operator.

Reference scope: /root/reference computes no communities (BFS only);
this extends the engine's graph family beyond parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from graph500_spark.functions.confscope import scoped_session_confs
from graph500_spark.functions.plantrunc import cached, truncate_plan_lazy
from graph500_spark.functions.sizing import broadcast_if_fits


def louvain_communities(
    spark: SparkSession,
    edges_clean: DataFrame,
    max_iters: int = 16,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """[vertex, community] — one-level Louvain local-moving loop
    over a symmetric edge list; returns the highest-modularity
    assignment visited (exact integer score, earliest on ties).
    Isolated vertices (absent from edges) are out of scope, as in
    degrees().

    Accepts an optional integer ``weight`` column (defaults to 1) and
    tolerates self-loop rows — both appear on CONTRACTED graphs
    (louvain_multilevel): a super-vertex's self-loop carries its
    internal directed weight, which counts into its strength s(v) and
    into every community it sits in, but never into the k_{v,c}
    candidate terms (the loop moves WITH the vertex, so it cancels
    from every gain difference). The modularity tracker's ``within``
    term omits the constant self-loop total — constant across
    assignments, so argmax ranking is unaffected."""
    wcol = (
        F.col("weight").cast("long")
        if "weight" in edges_clean.columns
        else F.lit(1).cast("long")
    )
    with scoped_session_confs(
        spark, {"spark.sql.shuffle.partitions": shuffle_partitions}
    ), cached(edges_clean.select("src", "dst", wcol.alias("w"))) as edges:
        # strength: ALL incident weight including self-loops
        deg = (
            edges.groupBy(F.col("src").alias("vertex"))
            .agg(F.sum("w").cast("long").alias("deg"))
        )
        two_m = edges.agg(F.sum("w")).first()[0]
        # lazy checkpoint + count = one driver barrier (guide §1.2/§5)
        comm = deg.select(
            "vertex", F.col("vertex").alias("community"), "deg"
        ).transform(truncate_plan_lazy)
        # |V| is loop-invariant; checkpointed leaves carry no stats, so
        # without explicit hints every per-iteration join against the
        # (tiny) assignment/community aggregates would shuffle — the
        # driver knows the bound and injects broadcast() while it fits
        # (bfs.py discipline; at cluster scale the guard falls back to
        # shuffle joins). Every broadcast side below is <= |V| rows.
        n_vertices = comm.count()

        best_comm, best_qnum = comm, None
        quiet_rounds = 0
        for it in range(max_iters):
            # Leaf-child aggregates of the current assignment — every
            # downstream join hangs off these or the edge cache, never
            # off a shared shuffled sub-plan (see module docstring).
            csum = comm.groupBy("community").agg(
                F.sum("deg").cast("long").alias("d_c")
            )
            # k_{v,c}: v's edge count into each neighboring community
            kvc = (
                edges.filter(F.col("src") != F.col("dst"))
                .join(
                    broadcast_if_fits(
                        comm.select(
                            F.col("vertex").alias("dst"),
                            F.col("community").alias("cd"),
                        ),
                        n_vertices,
                    ),
                    "dst",
                )
                .groupBy(F.col("src").alias("vertex"), "cd")
                .agg(F.sum("w").cast("long").alias("k"))
            )
            cur = comm.join(
                broadcast_if_fits(
                    csum.select(
                        F.col("community").alias("ca"),
                        F.col("d_c").alias("d_ca"),
                    ),
                    n_vertices,
                ),
                F.col("community") == F.col("ca"),
            ).select(
                "vertex", F.col("community").alias("ca"), "deg", "d_ca"
            )
            ann = (
                kvc.join(broadcast_if_fits(cur, n_vertices), "vertex")
                .join(
                    broadcast_if_fits(
                        csum.select(
                            F.col("community").alias("cd"),
                            F.col("d_c").alias("d_cd"),
                        ),
                        n_vertices,
                    ),
                    "cd",
                )
            )
            # One argmax per vertex; own-community stats ride along as
            # conditional aggregates instead of a second join branch.
            per_v = ann.groupBy("vertex").agg(
                F.max(
                    F.when(
                        F.col("cd") != F.col("ca"),
                        F.struct(
                            (
                                F.lit(2 * two_m) * F.col("k")
                                - F.col("deg") * F.col("d_cd")
                            ).alias("score"),
                            (-F.col("cd")).alias("ncd"),
                        ),
                    )
                ).alias("b"),
                F.coalesce(
                    F.max(F.when(F.col("cd") == F.col("ca"), F.col("k"))),
                    F.lit(0),
                ).cast("long").alias("own_k"),
                F.first("ca").alias("ca"),
                F.first("deg").alias("deg"),
                F.first("d_ca").alias("d_ca"),
            )
            moved = (
                comm.join(
                    broadcast_if_fits(per_v, n_vertices).select(
                        "vertex",
                        F.when(
                            F.col("b").isNotNull()
                            & (
                                F.col("b.score")
                                > F.lit(2 * two_m) * F.col("own_k")
                                - F.col("deg")
                                * (F.col("d_ca") - F.col("deg"))
                            )
                            # parity alternation: half the vertices
                            # are move-eligible per round
                            & ((F.col("vertex") + F.lit(it)) % 2 == 0),
                            (-F.col("b.ncd")).cast("long"),
                        ).alias("new_c"),
                        F.col("own_k"),
                    ),
                    "vertex",
                    "left",
                )
                .select(
                    "vertex",
                    F.coalesce("new_c", "community").alias("community"),
                    "deg",
                    F.col("new_c").isNotNull().alias("did_move"),
                    F.coalesce("own_k", F.lit(0)).alias("own_k"),
                )
                # lazy: the scalar readout below materializes it —
                # one driver barrier per iteration instead of two
                .transform(truncate_plan_lazy)
            )
            # One scalar job: move count + within-edge total (= the
            # modularity numerator's first term, for the CURRENT comm).
            # ONE driver barrier for the whole scalar readout: move
            # count + within-weight (from moved) and sum D_c^2 (from
            # the tiny csum) cross-joined as 1-row aggregates.
            row = (
                moved.agg(
                    F.sum(F.col("did_move").cast("long")).alias("nm"),
                    F.sum("own_k").alias("within"),
                )
                .crossJoin(
                    csum.agg(
                        F.sum(F.col("d_c") * F.col("d_c")).alias("ssq")
                    )
                )
                .first()
            )
            n_moves = row["nm"] or 0
            qnum = (row["within"] or 0) * two_m - row["ssq"]
            if best_qnum is None or qnum > best_qnum:
                if best_comm is not comm:
                    best_comm.unpersist()
                best_comm, best_qnum = comm, qnum
            next_comm = moved.select("vertex", "community", "deg")
            if comm is not best_comm:
                comm.unpersist()
            comm = next_comm
            # with parity alternation a single quiet round only means
            # ONE parity class is stable — the fixpoint needs both
            # consecutive parities quiet
            quiet_rounds = quiet_rounds + 1 if n_moves == 0 else 0
            if quiet_rounds == 2:
                break
        # Score the final state too (the loop scores pre-move states).
        f_csum = comm.groupBy("community").agg(
            F.sum("deg").cast("long").alias("d_c")
        )
        f_row = (
            edges.join(
                broadcast_if_fits(
                    comm.select(F.col("vertex").alias("src"),
                                F.col("community").alias("c_s")),
                    n_vertices,
                ),
                "src",
            )
            .join(
                broadcast_if_fits(
                    comm.select(F.col("vertex").alias("dst"),
                                F.col("community").alias("c_d")),
                    n_vertices,
                ),
                "dst",
            )
            .agg(
                F.sum(
                    F.when(
                        (F.col("c_s") == F.col("c_d"))
                        & (F.col("src") != F.col("dst")),
                        F.col("w"),
                    ).otherwise(F.lit(0))
                ).alias("within")
            )
            .first()
        )
        f_sumsq = f_csum.agg(
            F.sum(F.col("d_c") * F.col("d_c")).alias("s")
        ).first()["s"]
        f_qnum = (f_row["within"] or 0) * two_m - f_sumsq
        if f_qnum > best_qnum:
            best_comm = comm
        return best_comm.select("vertex", "community")


def louvain_quality(
    spark: SparkSession,
    edges_clean: DataFrame,
    max_iters: int = 16,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """One row [n_communities, two_m, within_rows, modularity] — the
    Louvain assignment scored by the exact-integer modularity
    operator (stats.modularity), the quality readout a pipeline
    monitors."""
    from graph500_spark.operators.stats import modularity

    comm = louvain_communities(
        spark, edges_clean, max_iters, shuffle_partitions
    )
    return modularity(edges_clean, comm)


def contract_graph(
    edges: DataFrame, communities: DataFrame
) -> DataFrame:
    """[src, dst, weight] — the community (super-vertex) graph: every
    edge's endpoints mapped to their community labels, parallel edges
    merged by weight sum. Within-community edges become the
    super-vertex's self-loop row, carrying the internal directed
    weight — exactly what the next Louvain level's strength term
    needs. Input may itself be weighted (weight defaults to 1), so
    contraction composes level over level.

    Plan: two map joins of the [vertex, community] table onto the
    edge list (broadcast when small, shuffle on the vertex keys
    otherwise — the same shape as modularity()), then one grouped
    integer sum on the contracted keys, whose cardinality collapses
    to |communities|^2 at most — the shuffle AFTER contraction is
    vanishingly small, which is why multilevel Louvain scales."""
    wcol = (
        F.col("weight").cast("long")
        if "weight" in edges.columns
        else F.lit(1).cast("long")
    )
    e = edges.select("src", "dst", wcol.alias("w"))
    cmap_s = communities.select(
        F.col("vertex").alias("src"), F.col("community").alias("c_src")
    )
    cmap_d = communities.select(
        F.col("vertex").alias("dst"), F.col("community").alias("c_dst")
    )
    return (
        e.join(cmap_s, "src")
        .join(cmap_d, "dst")
        .groupBy(
            F.col("c_src").alias("src"), F.col("c_dst").alias("dst")
        )
        .agg(F.sum("w").cast("long").alias("weight"))
    )


def louvain_multilevel(
    spark: SparkSession,
    edges_clean: DataFrame,
    levels: int = 2,
    max_iters: int = 16,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """[vertex, community] — full multilevel Louvain: local-moving,
    contract to the community graph (weights + self-loops), repeat on
    the contracted graph, and compose the assignments back down to
    original vertices. Level-(i+1) communities are labeled by their
    level-i representative, so labels stay stable vertex ids.

    The contracted graph shrinks geometrically (997 -> ~170 -> ~40 on
    the mod997 fixture), so every level after the first runs on
    vanishing data — the classic reason Louvain is THE scalable
    community algorithm. All arithmetic stays integer end to end."""
    mapping = louvain_communities(
        spark, edges_clean, max_iters, shuffle_partitions
    ).transform(truncate_plan_lazy)
    g = edges_clean
    for _ in range(1, levels):
        g = contract_graph(g, mapping).transform(truncate_plan_lazy)
        up = louvain_communities(
            spark, g, max_iters, shuffle_partitions
        )
        mapping = (
            mapping.join(
                up.select(
                    F.col("vertex").alias("community"),
                    F.col("community").alias("community_up"),
                ),
                "community",
            )
            .select(
                "vertex", F.col("community_up").alias("community")
            )
            .transform(truncate_plan_lazy)
        )
    return mapping


def louvain_multilevel_quality(
    spark: SparkSession,
    edges_clean: DataFrame,
    levels: int = 2,
    max_iters: int = 16,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """One row [n_communities, two_m, within_rows, modularity] for
    the multilevel assignment — scored on the ORIGINAL graph by the
    oracle-checked stats.modularity operator."""
    from graph500_spark.operators.stats import modularity

    comm = louvain_multilevel(
        spark, edges_clean, levels, max_iters, shuffle_partitions
    )
    return modularity(edges_clean, comm)


def _louvain_chain(e: str, p: str, max_iters: int) -> list[str]:
    """CTE parts for ONE unrolled local-moving chain (round 10)
    reading (src, dst, w) from the CTE named ``e``; every chain CTE is
    prefixed with ``p`` so two chains (multilevel) can share a
    statement. One block per round — community degree sums, the
    k_{v,c} table (self-loop ROWS excluded; strengths and two_m keep
    them, the contracted-graph convention), the per-vertex argmax
    with the exact (score desc, cd asc) tiebreak, the integer gain
    test, the (vertex + it) % 2 parity gate — plus the
    modularity-numerator score of every visited state and the
    strict-greater best-visited selection (ties → earliest state; the
    post-loop final state wins only strictly — the driver loop's
    bookkeeping exactly). The winning assignment lands in ``{p}win``.

    Why a fixed unroll is EXACT despite the driver's early break: the
    loop stops after two consecutive quiet rounds, i.e. both parity
    classes are at a fixpoint; every further synchronous round then
    reproduces the same state (round it+2 re-examines the same parity
    class on the same state), so the extra oracle rounds score
    duplicate states that can never win the strict-greater /
    earliest-tie argmax."""
    tm = f"(SELECT two_m FROM {p}tm)"
    parts = [
        f"{p}dg AS MATERIALIZED (SELECT src AS vertex,"
        f" CAST(SUM(w) AS BIGINT) AS deg FROM {e} GROUP BY src)",
        f"{p}tm AS MATERIALIZED (SELECT CAST(SUM(w) AS BIGINT)"
        f" AS two_m FROM {e})",
        f"{p}c0 AS MATERIALIZED (SELECT vertex,"
        f" CAST(vertex AS BIGINT) AS community, deg FROM {p}dg)",
    ]
    for i in range(max_iters):
        parts += [
            f"{p}cs{i} AS MATERIALIZED (SELECT community,"
            f" CAST(SUM(deg) AS BIGINT) AS d_c FROM {p}c{i}"
            " GROUP BY community)",
            f"{p}q{i} AS MATERIALIZED (SELECT"
            f" (SELECT CAST(COALESCE(SUM(e.w), 0) AS BIGINT) FROM {e} e"
            f" JOIN {p}c{i} a ON a.vertex = e.src"
            f" JOIN {p}c{i} b ON b.vertex = e.dst"
            " WHERE e.src <> e.dst AND a.community = b.community)"
            f" * {tm}"
            f" - (SELECT CAST(SUM(d_c * d_c) AS BIGINT) FROM {p}cs{i})"
            " AS qnum)",
            f"{p}kv{i} AS MATERIALIZED (SELECT e.src AS vertex,"
            " b.community AS cd, CAST(SUM(e.w) AS BIGINT) AS k"
            f" FROM {e} e JOIN {p}c{i} b ON b.vertex = e.dst"
            " WHERE e.src <> e.dst GROUP BY 1, 2)",
            f"{p}ann{i} AS MATERIALIZED (SELECT kv.vertex, kv.cd,"
            " kv.k, c.community AS ca, c.deg, csa.d_c AS d_ca,"
            " csd.d_c AS d_cd"
            f" FROM {p}kv{i} kv JOIN {p}c{i} c ON c.vertex = kv.vertex"
            f" JOIN {p}cs{i} csa ON csa.community = c.community"
            f" JOIN {p}cs{i} csd ON csd.community = kv.cd)",
            f"{p}own{i} AS (SELECT vertex, CAST(COALESCE(MAX("
            "CASE WHEN cd = ca THEN k END), 0) AS BIGINT) AS own_k"
            f" FROM {p}ann{i} GROUP BY vertex)",
            f"{p}bm{i} AS (SELECT vertex, cd, score FROM ("
            " SELECT vertex, cd,"
            f" 2 * {tm} * k - deg * d_cd AS score,"
            " ROW_NUMBER() OVER (PARTITION BY vertex ORDER BY"
            f" 2 * {tm} * k - deg * d_cd DESC,"
            " cd ASC) AS rn"
            f" FROM {p}ann{i} WHERE cd <> ca) WHERE rn = 1)",
            f"{p}mv{i} AS MATERIALIZED (SELECT a.vertex,"
            " b.cd AS new_c"
            f" FROM (SELECT DISTINCT vertex, ca, deg, d_ca"
            f" FROM {p}ann{i}) a"
            f" JOIN {p}own{i} o ON o.vertex = a.vertex"
            f" JOIN {p}bm{i} b ON b.vertex = a.vertex"
            f" WHERE b.score > 2 * {tm} * o.own_k"
            " - a.deg * (a.d_ca - a.deg)"
            f" AND (a.vertex + {i}) % 2 = 0)",
            f"{p}c{i+1} AS MATERIALIZED (SELECT c.vertex,"
            " CAST(COALESCE(m.new_c, c.community) AS BIGINT)"
            f" AS community, c.deg FROM {p}c{i} c"
            f" LEFT JOIN {p}mv{i} m ON m.vertex = c.vertex)",
        ]
    n = max_iters
    parts += [
        f"{p}cs{n} AS (SELECT community,"
        f" CAST(SUM(deg) AS BIGINT) AS d_c FROM {p}c{n}"
        " GROUP BY community)",
        f"{p}q{n} AS (SELECT"
        f" (SELECT CAST(COALESCE(SUM(e.w), 0) AS BIGINT) FROM {e} e"
        f" JOIN {p}c{n} a ON a.vertex = e.src"
        f" JOIN {p}c{n} b ON b.vertex = e.dst"
        " WHERE e.src <> e.dst AND a.community = b.community)"
        f" * {tm}"
        f" - (SELECT CAST(SUM(d_c * d_c) AS BIGINT) FROM {p}cs{n})"
        " AS qnum)",
        f"{p}scores AS ("
        + " UNION ALL ".join(
            f"SELECT {i} AS it, qnum FROM {p}q{i}" for i in range(n + 1)
        )
        + ")",
        f"{p}best AS (SELECT it FROM {p}scores"
        " ORDER BY qnum DESC, it ASC LIMIT 1)",
        f"{p}states AS ("
        + " UNION ALL ".join(
            f"SELECT {i} AS it, vertex, community FROM {p}c{i}"
            for i in range(n + 1)
        )
        + ")",
        f"{p}win AS MATERIALIZED (SELECT vertex, community"
        f" FROM {p}states JOIN {p}best USING (it))",
    ]
    return parts


def louvain_communities_sql(clean_sql: str, max_iters: int = 16) -> str:
    """Unrolled-CTE DuckDB mirror of louvain_communities — see
    _louvain_chain for the round structure and the unroll-exactness
    argument. Unweighted form (w = 1), matching the registered
    entry's clean-graph input."""
    parts = [
        f"WITH clean AS MATERIALIZED ({clean_sql})",
        "e0 AS MATERIALIZED (SELECT src, dst, CAST(1 AS BIGINT) AS w"
        " FROM clean)",
    ] + _louvain_chain("e0", "", max_iters)
    return ", ".join(parts) + " SELECT vertex, community FROM win"


def louvain_quality_sql(clean_sql: str, max_iters: int = 16) -> str:
    """DuckDB mirror of louvain_quality: the unrolled chain's winning
    state scored by the exact-integer modularity formula
    (stats.modularity_sql's shape with cmap = the chain winner)."""
    chain = louvain_communities_sql(clean_sql, max_iters)
    return (
        f"WITH cmap AS ({chain}),"
        f" clean2 AS ({clean_sql}),"
        " deg2 AS (SELECT src AS vertex,"
        " CAST(COUNT(*) AS BIGINT) AS degree FROM clean2 GROUP BY src),"
        " tm2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS two_m"
        " FROM clean2),"
        " w2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS within_rows"
        " FROM clean2 e"
        " JOIN cmap cs ON cs.vertex = e.src"
        " JOIN cmap cd ON cd.vertex = e.dst"
        " WHERE cs.community = cd.community),"
        " ds2 AS (SELECT cm.community,"
        " CAST(SUM(d.degree) AS BIGINT) AS d_c"
        " FROM deg2 d JOIN cmap cm ON cm.vertex = d.vertex"
        " GROUP BY cm.community),"
        " dst2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,"
        " CAST(SUM(d_c * d_c) AS BIGINT) AS sum_d2 FROM ds2)"
        " SELECT n_communities, two_m, within_rows,"
        " ROUND((two_m * within_rows - sum_d2)"
        " / (CAST(two_m AS DOUBLE) * two_m), 6) AS modularity"
        " FROM tm2, w2, dst2"
    )


def louvain_multilevel_sql(
    clean_sql: str, levels: int = 2, max_iters: int = 16
) -> str:
    """Unrolled-CTE DuckDB mirror of louvain_multilevel: one
    _louvain_chain per level, a contraction CTE between levels (edges
    mapped to level-i winners, parallel edges weight-summed — the
    within-community rows become the super-vertex self-loops the next
    level's strengths need), and the composition of assignments back
    down to original vertices."""
    parts = [
        f"WITH clean AS MATERIALIZED ({clean_sql})",
        "e0 AS MATERIALIZED (SELECT src, dst, CAST(1 AS BIGINT) AS w"
        " FROM clean)",
    ]
    for lv in range(levels):
        if lv > 0:
            parts.append(
                f"e{lv} AS MATERIALIZED (SELECT sa.community AS src,"
                " sb.community AS dst, CAST(SUM(e.w) AS BIGINT) AS w"
                f" FROM e{lv-1} e"
                f" JOIN l{lv-1}win sa ON sa.vertex = e.src"
                f" JOIN l{lv-1}win sb ON sb.vertex = e.dst"
                " GROUP BY 1, 2)"
            )
        parts += _louvain_chain(f"e{lv}", f"l{lv}", max_iters)
    # compose assignments down to original vertices
    compose = "SELECT m0.vertex, CAST(m{last}.community AS BIGINT) AS community FROM l0win m0"
    joins = []
    for lv in range(1, levels):
        prev = "m0" if lv == 1 else f"m{lv-1}"
        joins.append(
            f" JOIN l{lv}win m{lv} ON m{lv}.vertex = {prev}.community"
        )
    final = (
        compose.format(last=levels - 1) + "".join(joins)
        if levels > 1
        else "SELECT vertex, community FROM l0win m0"
    )
    return ", ".join(parts) + " " + final


def louvain_multilevel_quality_sql(
    clean_sql: str, levels: int = 2, max_iters: int = 16
) -> str:
    """DuckDB mirror of louvain_multilevel_quality: the multilevel
    winner scored on the ORIGINAL graph by the modularity formula."""
    chain = louvain_multilevel_sql(clean_sql, levels, max_iters)
    return (
        f"WITH cmap AS ({chain}),"
        f" clean2 AS ({clean_sql}),"
        " deg2 AS (SELECT src AS vertex,"
        " CAST(COUNT(*) AS BIGINT) AS degree FROM clean2 GROUP BY src),"
        " tm2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS two_m"
        " FROM clean2),"
        " w2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS within_rows"
        " FROM clean2 e"
        " JOIN cmap cs ON cs.vertex = e.src"
        " JOIN cmap cd ON cd.vertex = e.dst"
        " WHERE cs.community = cd.community),"
        " ds2 AS (SELECT cm.community,"
        " CAST(SUM(d.degree) AS BIGINT) AS d_c"
        " FROM deg2 d JOIN cmap cm ON cm.vertex = d.vertex"
        " GROUP BY cm.community),"
        " dst2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,"
        " CAST(SUM(d_c * d_c) AS BIGINT) AS sum_d2 FROM ds2)"
        " SELECT n_communities, two_m, within_rows,"
        " ROUND((two_m * within_rows - sum_d2)"
        " / (CAST(two_m AS DOUBLE) * two_m), 6) AS modularity"
        " FROM tm2, w2, dst2"
    )
