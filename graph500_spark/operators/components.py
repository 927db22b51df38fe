"""Connected components by delta min-label propagation.

Engine capability beyond the reference's own surface (its only
traversal is single-root BFS — /root/reference/mpi/bfs.hpp:2651-2940);
connected components is the natural companion query over the same
cleaned edge table and shares the BFS loop's Spark shape.

Algorithm: every vertex starts labeled with its own id; each round a
vertex adopts the minimum label among itself and its neighbors. Only
vertices whose label changed last round (the delta frontier) propagate,
so per-round work tracks the shrinking changing set. Converges in
O(component hop-diameter) rounds to label(v) = min vertex id in v's
component — a deterministic, oracle-checkable result. The loop is not
written here: ``connected_components`` and both fixpoints of
``strongly_connected_components`` are min/max-label programs on
``operators/pregel.py`` (``propagate_extreme``, active-only sends),
which owns the checkpointing, the broadcast of the changed set, the
stop rule and the edge cache.

Scale notes: for graphs with huge-diameter components the
round-latency-optimal choice is the large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14 — O(log² n) rounds); Kronecker/social graphs have tiny
diameters, so plain delta propagation wins there.
``connected_components_stars`` rewrites the edge set each round, so
it keeps its own loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from graph500_spark.functions.confscope import scoped_session_confs
from graph500_spark.functions.plantrunc import cached, truncate_plan_lazy
from graph500_spark.functions.sizing import broadcast_if_fits
from graph500_spark.operators.pregel import propagate_extreme


def connected_components(
    spark: SparkSession,
    edges_clean: DataFrame,
    max_rounds: int | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """[vertex, component] over a symmetrized, deduped edge list;
    component = min vertex id in the vertex's connected component.
    Isolated vertices don't appear in the edge list and so don't
    appear in the output (same convention as BFS's reached set).
    """
    labels = (
        edges_clean.select(F.col("src").alias("vertex"))
        .distinct()
        .withColumn("label", F.col("vertex"))
    )
    return propagate_extreme(
        spark,
        edges_clean.select("src", "dst"),
        labels,
        F.least,
        n_supersteps=max_rounds,
        shuffle_partitions=shuffle_partitions,
    ).select("vertex", F.col("label").alias("component"))


def connected_components_stars(
    spark: SparkSession,
    edges_clean: DataFrame,
    max_rounds: int = 50,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """[vertex, component] by alternating large-star/small-star
    (Kiveris et al., SoCC'14) — the round-latency-optimal scale path
    this module's header names as the remedy for huge-diameter
    components: O(log² n) rounds regardless of diameter, vs
    O(diameter) for delta propagation. Same output contract as
    ``connected_components`` (component = min vertex id), so it shares
    that query's DuckDB oracle verbatim.

    The algorithm REWRITES THE EDGE SET each round (that contraction,
    not mere label propagation, is what gives the O(log² n) bound and
    guarantees convergence — a fixed-edge parent-pointer variant can
    reach a stable partitioned state and was rejected in testing):
      * large-star(E): per vertex u, m = min(Γ(u) ∪ {u}); replace each
        edge to a larger neighbor v > u with (v, m);
      * small-star(E): orient edges toward the smaller endpoint; per u
        with down-neighbors N, m = min(N ∪ {u}); emit (x, m) for
        x ∈ N ∪ {u}, x ≠ m.
    Each star is one groupBy(min) + one join on vertex id; the edge
    set is localCheckpoint'ed per round. Terminates when E is stable
    (a forest of stars, center = component min); the final map reads
    each leaf's center off its star edge."""
    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        return (
            sym.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .dropDuplicates(["src", "dst"])
        )

    def small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        ).filter(F.col("u") != F.col("v"))
        m = oriented.groupBy("u").agg(F.min("v").alias("m"))
        down = (
            oriented.join(m, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        )
        own = m.select(F.col("u").alias("src"), F.col("m").alias("dst"))
        return down.unionByName(own).dropDuplicates(["src", "dst"])

    with scoped_session_confs(
        spark, {"spark.sql.shuffle.partitions": shuffle_partitions}
    ):
        verts = (
            edges_clean.select(F.col("src").alias("vertex"))
            .distinct()
            .transform(truncate_plan_lazy)
        )
        # one row per undirected edge
        E = (
            edges_clean.select("src", "dst")
            .filter(F.col("src") < F.col("dst"))
            .transform(truncate_plan_lazy)
        )
        n_edges = E.count()
        for _ in range(max_rounds):
            # lazy checkpoint + count = one driver barrier per round
            new_E = small_star(large_star(E)).transform(
                truncate_plan_lazy
            )
            n_new = new_E.count()
            stable = (
                n_new == n_edges
                and new_E.exceptAll(E).limit(1).count() == 0
            )
            E = new_E
            n_edges = n_new
            if stable:
                break
        # star forest: each leaf edge is (leaf, center); centers (and
        # any vertex not appearing as a leaf) map to themselves
        centers = E.groupBy(F.col("src").alias("vertex")).agg(
            F.min("dst").alias("center")
        )
        return verts.join(centers, "vertex", "left").select(
            "vertex",
            F.least(
                F.coalesce("center", F.col("vertex")), F.col("vertex")
            ).alias("component"),
        )


# ---------------------------------------------------------------------------
# Strongly connected components (directed) — Orzan-style FW coloring +
# color-restricted backward reach
# ---------------------------------------------------------------------------


def strongly_connected_components(
    spark: SparkSession,
    edges_directed: DataFrame,
    max_outer: int = 30,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """[vertex, scc_id] over a DIRECTED edge list; scc_id = min vertex
    id in the vertex's strongly connected component.

    Per outer round over the remaining subgraph:
      1. forward min-color fixpoint — color(v) = min id that reaches
         v (a pregel min-propagation along edge direction);
      2. backward reach of each color's pivot (the vertex whose id IS
         its color) along color-homogeneous reversed edges — correct
         because inside Reach(c) ∩ Reach⁻(c) every vertex is colored
         exactly c (a smaller id reaching any cycle vertex would
         reach the pivot too, contradicting color(c) = c);
      3. marked vertices form whole SCCs; emit and remove them.
    Outer rounds ≤ the longest path in the SCC condensation DAG (one
    pivot SCC per color per round). Both inner fixpoints run on
    ``propagate_extreme`` — min colors, then max (= or) of the pivot
    mark — the CC program: one equi-join + map-side-partial min/max
    per superstep from the changed vertices only, checkpointed state.
    """
    with cached(edges_directed.select("src", "dst")) as edges:
        verts = (
            edges.select(F.col("src").alias("vertex"))
            .unionAll(edges.select(F.col("dst").alias("vertex")))
            .distinct()
            .transform(truncate_plan_lazy)
        )
        remaining = verts
        # remaining/colors are stat-less checkpoint leaves; the driver
        # tracks the remaining count and injects broadcast() on every
        # <=|remaining|-row side while it fits (bfs.py discipline) —
        # the stationary edge cache is otherwise shuffled several
        # times per outer round.
        n_remaining = remaining.count()
        parts: list[DataFrame] = []

        def fixpoint(e: DataFrame, labels: DataFrame, pick) -> DataFrame:
            return propagate_extreme(
                spark, e, labels, pick, shuffle_partitions=shuffle_partitions
            )

        for _ in range(max_outer):
            if n_remaining == 0:
                break
            live = (
                edges.join(
                    broadcast_if_fits(
                        remaining.select(F.col("vertex").alias("src")),
                        n_remaining,
                    ),
                    "src", "left_semi",
                ).join(
                    broadcast_if_fits(
                        remaining.select(F.col("vertex").alias("dst")),
                        n_remaining,
                    ),
                    "dst", "left_semi",
                )
            )
            colors = fixpoint(
                live,
                remaining.select("vertex", F.col("vertex").alias("label")),
                F.least,
            ).withColumnRenamed("label", "color")
            # color-homogeneous REVERSED edges; propagate pivot reach
            ce = (
                live.join(
                    broadcast_if_fits(
                        colors.select(
                            F.col("vertex").alias("src"),
                            F.col("color").alias("cs"),
                        ),
                        n_remaining,
                    ),
                    "src",
                )
                .join(
                    broadcast_if_fits(
                        colors.select(
                            F.col("vertex").alias("dst"),
                            F.col("color").alias("cd"),
                        ),
                        n_remaining,
                    ),
                    "dst",
                )
                .filter(F.col("cs") == F.col("cd"))
                .select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
            marked = fixpoint(
                ce,
                colors.select(
                    "vertex",
                    (F.col("vertex") == F.col("color")).alias("label"),
                ),
                F.greatest,
            )
            members = (
                marked.filter("label")
                .join(broadcast_if_fits(colors, n_remaining), "vertex")
                .select("vertex", F.col("color").alias("scc_id"))
                .transform(truncate_plan_lazy)
            )
            parts.append(members)
            # lazy: remaining.count() materializes both leaves in one job
            remaining = remaining.join(
                broadcast_if_fits(members.select("vertex"), n_remaining),
                "vertex",
                "left_anti",
            ).transform(truncate_plan_lazy)
            n_remaining = remaining.count()
        if n_remaining != 0:
            raise RuntimeError(
                f"scc did not converge in {max_outer} outer rounds"
            )
    if not parts:
        return verts.select(
            "vertex", F.col("vertex").alias("scc_id")
        ).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def strongly_connected_components_sql(directed_sql: str) -> str:
    """SCC oracle via transitive closure: scc_id(v) = min over
    {v} ∪ {m : v →* m and m →* v}."""
    return (
        f"WITH RECURSIVE e AS ({directed_sql}),"
        " verts AS (SELECT DISTINCT src AS vertex FROM e"
        " UNION SELECT DISTINCT dst FROM e),"
        " reach(a, b) AS ("
        "  SELECT src, dst FROM e"
        "  UNION"
        "  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),"
        " mutual AS (SELECT r1.a AS vertex, r1.b AS m FROM reach r1"
        "  JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a)"
        " SELECT v.vertex,"
        " LEAST(v.vertex, COALESCE(MIN(mu.m), v.vertex)) AS scc_id"
        " FROM verts v LEFT JOIN mutual mu ON mu.vertex = v.vertex"
        " GROUP BY v.vertex"
    )


def hub_ablation_components(
    spark: SparkSession,
    edges_clean: DataFrame,
    n_hubs: int = 20,
) -> DataFrame:
    """[n_removed, n_survivors, n_components, giant_size,
    giant_frac_ppm] — network robustness under targeted attack
    (Albert–Jeong–Barabási 2000): delete the n_hubs highest-degree
    vertices (ties → smaller id), rerun connected components on the
    survivor graph, report the fragmentation. On a scale-free/R-MAT
    graph this collapses fast (hub-dominated connectivity); on the
    near-regular mod997 graph it barely moves — the structural
    readout infra teams run before betting on hub-based sharding.

    Vertices isolated BY the ablation drop out of the edge list and
    are not survivors (the CC reached-set convention). Plan: one
    degree count, a distributed top-n_hubs (TakeOrdered, never a
    global sort), two broadcast anti-joins to ablate, the pregel CC
    loop, one component-keyed count. The summary row is a broadcast
    reduction."""
    edges = edges_clean.select("src", "dst")
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    hubs = F.broadcast(
        deg.orderBy(F.col("degree").desc(), F.col("src").asc())
        .limit(n_hubs)
        .select("src")
        .transform(truncate_plan_lazy)
    )
    sub = edges.join(hubs, "src", "left_anti").join(
        hubs.withColumnRenamed("src", "dst"), "dst", "left_anti"
    )
    cc = connected_components(spark, sub)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return sizes.agg(
        F.lit(n_hubs).cast("long").alias("n_removed"),
        F.sum("sz").cast("long").alias("n_survivors"),
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.max("sz").cast("long").alias("giant_size"),
        F.round(
            F.max("sz") * 1_000_000 / F.sum("sz").cast("double")
        )
        .cast("long")
        .alias("giant_frac_ppm"),
    )


def hub_ablation_components_sql(clean_sql: str, n_hubs: int = 20) -> str:
    return (
        f"WITH RECURSIVE clean AS ({clean_sql}),"
        " deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree"
        " FROM clean GROUP BY src),"
        " hubs AS (SELECT src FROM deg"
        f" ORDER BY degree DESC, src ASC LIMIT {n_hubs}),"
        " sub AS (SELECT src, dst FROM clean"
        " WHERE src NOT IN (SELECT src FROM hubs)"
        " AND dst NOT IN (SELECT src FROM hubs)),"
        " reach(vertex, label) AS ("
        "  SELECT src, src FROM sub"
        "  UNION"
        "  SELECT e.dst, r.label FROM sub e JOIN reach r"
        "   ON e.src = r.vertex),"
        " cc AS (SELECT vertex, MIN(label) AS component FROM reach"
        " GROUP BY vertex),"
        " sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS sz"
        " FROM cc GROUP BY component)"
        f" SELECT CAST({n_hubs} AS BIGINT) AS n_removed,"
        " CAST(SUM(sz) AS BIGINT) AS n_survivors,"
        " CAST(COUNT(*) AS BIGINT) AS n_components,"
        " CAST(MAX(sz) AS BIGINT) AS giant_size,"
        " CAST(round(MAX(sz) * 1000000 / CAST(SUM(sz) AS DOUBLE))"
        " AS BIGINT) AS giant_frac_ppm FROM sizes"
    )
