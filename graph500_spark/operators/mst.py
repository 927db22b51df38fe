"""Minimum spanning forest — distributed Boruvka.

Beyond the reference surface (the reference ships SSSP as its weighted
workload; an MSF is the other canonical weighted-graph primitive) but
squarely inside the engine's iterative-dataflow family: like BFS/CC,
each round is a declarative join-aggregate plan with driver-known
round counts.

Algorithm (classic Boruvka, the distributed-friendly MST):
  each round, every component selects its minimum outgoing edge under
  the STRICT total edge order (weight, lo, hi) — lo/hi the canonical
  endpoint pair — then the selected edges merge their components via a
  connected-components pass over the (much smaller) component graph.
  Components at least halve per round ⇒ ≤ log2(V) rounds.

Correctness of the selection step: with a globally consistent strict
edge order, the per-component min-edge graph contains no cycles other
than 2-cycles that reuse the SAME edge (a longer cycle would need its
maximum edge to be the minimum of one of its endpoints, contradicted
by the adjacent smaller cycle edge) — so a plain ``distinct()`` on the
selected edge set is the whole cycle defense, and the cut property
makes every selected edge MST-safe. Ties in ``weight`` are broken by
(lo, hi), i.e. the forest is deterministic for ANY weight assignment.

Scale notes: the per-round work is two equi-joins of the edge list
against the component map (shuffle on vertex id; bucketed edge
storage makes the edge side exchange-free) and one min-aggregate on
the component key (map-side partial). The component-graph CC runs on
≤ #components rows — asymptotically vanishing after round 1. No
driver-side data paths; the driver sees only per-round counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph500_spark.operators.components import connected_components
from graph500_spark.functions.confscope import scoped_session_confs
from graph500_spark.functions.plantrunc import (
    truncate_plan,
    truncate_plan_for,
    truncate_plan_lazy,
)
from graph500_spark.functions.sizing import broadcast_if_fits


def minimum_spanning_forest(
    spark: SparkSession,
    edges_weighted: DataFrame,
    max_rounds: int = 64,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """[src, dst, weight] — the minimum spanning forest of an
    undirected weighted graph given as single-orientation edges
    (self-loops ignored; parallel edges allowed, the cheapest under
    the (weight, lo, hi) order wins). src < dst in the output; one
    tree per connected component (V_c − 1 edges each)."""
    with scoped_session_confs(
        spark, {"spark.sql.shuffle.partitions": shuffle_partitions}
    ):
        edges = (
            edges_weighted.select(
                F.least("src", "dst").alias("lo"),
                F.greatest("src", "dst").alias("hi"),
                F.col("weight").cast("long").alias("weight"),
            )
            .filter(F.col("lo") != F.col("hi"))
            .transform(truncate_plan)
        )

        comp = (
            edges.select(F.col("lo").alias("vertex"))
            .unionByName(edges.select(F.col("hi").alias("vertex")))
            .distinct()
            .withColumn("comp", F.col("vertex"))
            .transform(truncate_plan_lazy)
        )

        forest_parts: list[DataFrame] = []
        # |V| is loop-invariant; comp is a stat-less checkpoint leaf, so
        # the driver injects broadcast() on the label sides while the
        # vertex table fits — otherwise both labeling joins shuffle the
        # (weighted) edge table every Boruvka round (bfs.py discipline;
        # falls back to shuffle joins past the threshold).
        n_vertices = comp.count()

        for _round in range(max_rounds):
            lab = comp.withColumnRenamed("vertex", "lo").withColumnRenamed(
                "comp", "c_lo"
            )
            labh = comp.withColumnRenamed("vertex", "hi").withColumnRenamed(
                "comp", "c_hi"
            )
            e = (
                edges.join(broadcast_if_fits(lab, n_vertices), "lo")
                .join(broadcast_if_fits(labh, n_vertices), "hi")
                .filter(F.col("c_lo") != F.col("c_hi"))
            )
            # candidates from both endpoints; min under the strict total
            # edge order (weight, lo, hi) — c_lo/c_hi ride along uniquely
            cand = e.select(
                F.col("c_lo").alias("comp"),
                F.struct("weight", "lo", "hi", "c_lo", "c_hi").alias("edge"),
            ).unionByName(
                e.select(
                    F.col("c_hi").alias("comp"),
                    F.struct("weight", "lo", "hi", "c_lo", "c_hi").alias(
                        "edge"
                    ),
                )
            )
            selected = (
                cand.groupBy("comp")
                .agg(F.min("edge").alias("edge"))
                .select("edge.*")
                .distinct()
                # lazy checkpoint + count = one driver barrier per round
                .transform(truncate_plan_lazy)
            )
            n_sel = selected.count()
            if n_sel == 0:
                break
            forest_parts.append(selected.select("lo", "hi", "weight"))

            # merge the selected component pairs. The pair graph shrinks
            # geometrically (one selected edge per component), so once it
            # is driver-small the merge is a bounded union-find over the
            # collected pairs — identical labels to the distributed CC
            # (root = min id of the merged cluster) at zero per-superstep
            # scheduling cost; past the threshold the nested CC runs as
            # before (the 100 TB path for the first rounds).
            if n_sel <= 200_000:
                pairs = selected.select("c_lo", "c_hi").collect()
                parent: dict[int, int] = {}

                def find(x: int) -> int:
                    r = x
                    while parent.get(r, r) != r:
                        r = parent[r]
                    while parent.get(x, x) != x:
                        parent[x], x = r, parent[x]
                    return r

                for p in pairs:
                    ra, rb = find(int(p["c_lo"])), find(int(p["c_hi"]))
                    if ra != rb:
                        # larger root points at smaller: the cluster min
                        # is always a root, so find() = min of cluster —
                        # exactly the CC labeling
                        parent[max(ra, rb)] = min(ra, rb)
                mapping = sorted(
                    (c, find(c))
                    for c in {
                        int(v)
                        for p in pairs
                        for v in (p["c_lo"], p["c_hi"])
                    }
                )
                merge_map = spark.createDataFrame(
                    mapping, "old_comp long, new_comp long"
                )
            else:
                pair = selected.select(
                    F.col("c_lo").alias("src"), F.col("c_hi").alias("dst")
                )
                pair_sym = pair.unionByName(
                    pair.select(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    )
                ).distinct()
                merge_map = connected_components(spark, pair_sym).select(
                    F.col("vertex").alias("old_comp"),
                    F.col("component").alias("new_comp"),
                )
            comp = (
                comp.join(
                    broadcast_if_fits(merge_map, n_vertices),
                    comp.comp == merge_map.old_comp,
                    "left",
                )
                .select(
                    "vertex",
                    F.coalesce("new_comp", "comp").alias("comp"),
                )
                # next round's blocking label broadcast materializes it
                .transform(truncate_plan_for, n_vertices)
            )


    if not forest_parts:
        return edges.select(
            F.col("lo").alias("src"), F.col("hi").alias("dst"), "weight"
        ).limit(0)
    out = forest_parts[0]
    for p in forest_parts[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst"), "weight"
    )


def msf_summary(msf: DataFrame) -> DataFrame:
    """One-row [n_edges, total_weight] summary of a spanning forest —
    the scalar the classic MST benchmarks report."""
    return msf.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.coalesce(F.sum("weight"), F.lit(0)).cast("long")
        .alias("total_weight"),
    )


def validate_msf(
    spark: SparkSession,
    edges_weighted: DataFrame,
    msf: DataFrame,
) -> DataFrame:
    """Spec-style forest validation (the reference's validate-phase
    philosophy — mpi/validate.cc checks the BFS tree; this is the MSF
    analog): one row of error counts, all zero for a correct forest.

      * err_not_subset  — forest edges absent from the input edge set
        (canonical (lo, hi, weight) anti-join);
      * err_not_spanning — vertices whose input-graph component and
        forest component disagree as partitions (the two CC labelings
        must be a 1:1 relabeling of each other);
      * err_not_tree    — nonzero iff |E_f| != |V_f| - C_f (with the
        spanning check, exactly the acyclicity condition).
    """
    inp = edges_weighted.select(
        F.least("src", "dst").alias("lo"),
        F.greatest("src", "dst").alias("hi"),
        F.col("weight").cast("long").alias("weight"),
    ).filter(F.col("lo") != F.col("hi"))
    fr = msf.select(
        F.least("src", "dst").alias("lo"),
        F.greatest("src", "dst").alias("hi"),
        F.col("weight").cast("long").alias("weight"),
    )
    not_subset = fr.join(inp, ["lo", "hi", "weight"], "left_anti").count()

    def sym(e):
        return e.select(
            F.col("lo").alias("src"), F.col("hi").alias("dst")
        ).unionByName(
            e.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
        )

    cc_in = connected_components(spark, sym(inp)).withColumnRenamed(
        "component", "c_in"
    )
    cc_f = connected_components(spark, sym(fr)).withColumnRenamed(
        "component", "c_f"
    )
    # isolated-in-forest vertices (degree-0 in msf but present in the
    # input) are their own forest component
    both = cc_in.join(cc_f, "vertex", "left").select(
        "vertex", "c_in", F.coalesce("c_f", F.col("vertex")).alias("c_f")
    )
    # partition equality: every c_in maps to exactly one c_f and vice
    # versa — count label pairs violating either functional dependency
    viol_a = (
        both.groupBy("c_in")
        .agg(F.countDistinct("c_f").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    viol_b = (
        both.groupBy("c_f")
        .agg(F.countDistinct("c_in").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    n_vertices = both.count()
    n_components = both.select("c_in").distinct().count()
    n_forest_edges = fr.count()
    err_tree = 0 if n_forest_edges == n_vertices - n_components else 1

    return spark.createDataFrame(
        [
            (
                int(not_subset),
                int(viol_a + viol_b),
                int(err_tree),
            )
        ],
        "err_not_subset long, err_not_spanning long, err_not_tree long",
    )


def minimum_spanning_forest_sql(
    weighted_sql: str, rounds: int = 10
) -> str:
    """Unrolled-Boruvka DuckDB mirror (round 10). The MSF under a
    strict total edge order is UNIQUE, so the oracle only has to be a
    correct Boruvka, but this one also mirrors the Spark rounds
    exactly: per round, each component's minimum (weight, lo, hi)
    outgoing edge (ROW_NUMBER argmin per component, DISTINCT over the
    two-sided candidates), then the component merge as a RECURSIVE
    min-label closure over the selected component pairs (the
    connected_components_sql formulation — one recursive CTE per
    round, all under a single WITH RECURSIVE).

    A fixed unroll is exact: components at least halve per round, so
    ceil(log2(|V|)) rounds always suffice (997 vertices → 10) and
    converged rounds select nothing and no-op. ``weighted_sql`` must
    produce (src, dst, weight)."""
    parts = [
        f"WITH RECURSIVE we AS MATERIALIZED ({weighted_sql})",
        "e AS MATERIALIZED (SELECT LEAST(src, dst) AS lo,"
        " GREATEST(src, dst) AS hi, CAST(weight AS BIGINT) AS weight"
        " FROM we WHERE src <> dst)",
        "c0 AS MATERIALIZED (SELECT vertex,"
        " CAST(vertex AS BIGINT) AS comp FROM ("
        " SELECT lo AS vertex FROM e UNION"
        " SELECT hi AS vertex FROM e))",
    ]
    for r in range(rounds):
        parts += [
            f"le{r} AS MATERIALIZED (SELECT e.lo, e.hi, e.weight,"
            " a.comp AS c_lo, b.comp AS c_hi"
            f" FROM e JOIN c{r} a ON a.vertex = e.lo"
            f" JOIN c{r} b ON b.vertex = e.hi"
            " WHERE a.comp <> b.comp)",
            f"sel{r} AS MATERIALIZED (SELECT DISTINCT weight, lo, hi,"
            " c_lo, c_hi FROM ("
            " SELECT comp, weight, lo, hi, c_lo, c_hi,"
            " ROW_NUMBER() OVER (PARTITION BY comp"
            " ORDER BY weight, lo, hi) AS rn FROM ("
            f" SELECT c_lo AS comp, * FROM le{r}"
            " UNION ALL"
            f" SELECT c_hi AS comp, * FROM le{r}))"
            " WHERE rn = 1)",
            f"pr{r} AS MATERIALIZED (SELECT c_lo AS src, c_hi AS dst"
            f" FROM sel{r}"
            " UNION"
            f" SELECT c_hi AS src, c_lo AS dst FROM sel{r})",
            f"reach{r}(vertex, label) AS ("
            f" SELECT src, src FROM pr{r}"
            " UNION"
            f" SELECT p.dst, rr.label FROM pr{r} p"
            f" JOIN reach{r} rr ON p.src = rr.vertex)",
            f"mg{r} AS MATERIALIZED (SELECT vertex AS old_comp,"
            f" CAST(MIN(label) AS BIGINT) AS new_comp FROM reach{r}"
            " GROUP BY vertex)",
            f"c{r+1} AS MATERIALIZED (SELECT c.vertex,"
            " CAST(COALESCE(m.new_comp, c.comp) AS BIGINT) AS comp"
            f" FROM c{r} c LEFT JOIN mg{r} m ON m.old_comp = c.comp)",
        ]
    forest = " UNION ALL ".join(
        f"SELECT lo, hi, weight FROM sel{r}" for r in range(rounds)
    )
    return (
        ", ".join(parts)
        + f" SELECT lo AS src, hi AS dst, weight FROM ({forest})"
    )
