"""Graph-construction ETL operators (SURVEY.md §2.2/§2.4/§2.5).

Reference parity (semantics only; the physical strategy is Catalyst's):
  * remove_self_loops — P1, /root/reference/mpi/graph_constructor.hpp:697,1003
  * symmetrize        — P2, /root/reference/mpi/graph_constructor.hpp:992-1035
  * dedup_edges       — O2, /root/reference/mpi/graph_constructor.hpp:1363-1442
  * degrees           — A1, /root/reference/mpi/graph_constructor.hpp:296-352
  * max_vertex        — A2, /root/reference/mpi/graph_constructor.hpp:658-763
  * count_vertices    — A3, /root/reference/mpi/graph_constructor.hpp:1444-1464
  * degree_order_map  — O1, /root/reference/mpi/graph_constructor.hpp:313-351
  * apply_vertex_map  — P4, /root/reference/mpi/graph_constructor.hpp:1108-1181
  * build_adjacency   — CSR analogue (grouped adjacency lists)
  * build_clean_edges — full construction pipeline (§3.1 construct)

Scale notes (100 TB design point):
  * Every operator is a single declarative plan — map-side partial
    aggregation, column pruning, and AQE skew splitting come from
    Catalyst, not hand-rolled code.
  * ``degree_order_map`` deliberately avoids the classic
    ``row_number() OVER (ORDER BY ...)`` single-partition bottleneck:
    rank = (#vertices with strictly higher degree) + (rank among
    same-degree vertices). The per-degree offset table is tiny (one row
    per distinct degree value) and computed with a window over that tiny
    table; the per-vertex rank is a window partitioned BY degree, which
    parallelizes across degree values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph500_spark.functions.sizing import broadcast_if_fits


def remove_self_loops(edges: DataFrame) -> DataFrame:
    """P1: drop (v,v) edges. Predicate pushes down to the scan."""
    return edges.filter(F.col("src") != F.col("dst"))


def symmetrize(edges: DataFrame) -> DataFrame:
    """P2: undirected edge list → both directed orientations.

    Union is a no-shuffle narrow op; downstream dedup/agg shuffles once.
    """
    cols = [c for c in edges.columns if c not in ("src", "dst")]
    forward = edges.select("src", "dst", *cols)
    backward = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), *cols
    )
    return forward.unionByName(backward)


def dedup_edges(edges: DataFrame) -> DataFrame:
    """O2: drop duplicate (src,dst) pairs — one hash shuffle on both keys."""
    return edges.dropDuplicates(["src", "dst"])


def degrees(edges: DataFrame, *, directed: bool = True) -> DataFrame:
    """A1: degree per vertex → [vertex, degree].

    With ``directed=True`` the input is assumed already symmetrized
    (each undirected edge present in both orientations), so out-degree
    of the symmetric table == undirected degree — one groupBy, with
    map-side partial counts.
    """
    if directed:
        endpoints = edges.select(F.col("src").alias("vertex"))
    else:
        endpoints = edges.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("vertex")
        )
    return endpoints.groupBy("vertex").agg(F.count(F.lit(1)).alias("degree"))


def max_vertex(edges: DataFrame) -> DataFrame:
    """A2: max endpoint id (used by the reference to estimate SCALE)."""
    return edges.agg(
        F.max(F.greatest(F.col("src"), F.col("dst"))).alias("max_vertex")
    )


def count_vertices(edges: DataFrame, *, approx: bool = False) -> DataFrame:
    """A3: number of distinct vertices with >= 1 incident edge."""
    endpoints = edges.select(
        F.explode(F.array(F.col("src"), F.col("dst"))).alias("vertex")
    )
    if approx:
        return endpoints.agg(
            F.approx_count_distinct("vertex").alias("num_vertices")
        )
    return endpoints.agg(F.count_distinct(F.col("vertex")).alias("num_vertices"))


def degree_order_map(edges: DataFrame, *, directed: bool = True) -> DataFrame:
    """O1: degree-descending renumbering → [vertex, degree, new_id].

    new_id is the 1-based rank by (degree DESC, vertex ASC) — the
    deterministic analogue of the reference's pair-sort reordering
    (ties broken by original id instead of partition arrival order).

    Scalable two-phase ranking (no global single-partition window):
      offsets  = per-degree cumulative start position (tiny table)
      new_id   = offset(degree) + row_number() within that degree
    """
    deg = degrees(edges, directed=directed)

    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("cnt"))
    # The histogram has at most O(max_degree) rows — a driver-size table;
    # the unpartitioned window here is over that tiny table only.
    w_off = (
        Window.orderBy(F.col("degree").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = hist.select(
        "degree",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("offset"),
    )

    w_in = Window.partitionBy("degree").orderBy(F.col("vertex").asc())
    ranked = (
        deg.join(F.broadcast(offsets), "degree")
        .select(
            "vertex",
            "degree",
            (F.col("offset") + F.row_number().over(w_in)).alias("new_id"),
        )
    )
    return ranked


def apply_vertex_map(
    edges: DataFrame, vertex_map: DataFrame, *, broadcast_map: bool = False
) -> DataFrame:
    """P4: rewrite both endpoints through a [vertex, new_id] mapping.

    Two equi-joins (the reference's distributed gather in disguise).
    ``broadcast_map=True`` for small vertex sets; otherwise shuffle
    joins that AQE can convert/skew-split at runtime.
    """
    vmap = vertex_map.select("vertex", "new_id")
    if broadcast_map:
        vmap = F.broadcast(vmap)
    src_map = vmap.withColumnRenamed("vertex", "src").withColumnRenamed(
        "new_id", "new_src"
    )
    dst_map = vmap.withColumnRenamed("vertex", "dst").withColumnRenamed(
        "new_id", "new_dst"
    )
    extra = [c for c in edges.columns if c not in ("src", "dst")]
    return (
        edges.join(src_map, "src")
        .join(dst_map, "dst")
        .select(
            F.col("new_src").alias("src"), F.col("new_dst").alias("dst"), *extra
        )
    )


def build_clean_edges(
    edges_raw: DataFrame, max_id: int | None = None
) -> DataFrame:
    """Construction pipeline core: loop-filter → dedup → symmetrize.

    Output invariants (FIXTURES.md §1.3): no self loops, (src,dst)
    unique, (a,b) present ⇔ (b,a) present.

    Shuffle shape (guide §2.3, round 12): deduping the CANONICAL
    orientation (least, greatest) and symmetrizing afterwards moves
    |raw| rows through the one construction exchange instead of the
    2·|raw| the old symmetrize-then-dedup order shuffled — same output
    set (the symmetric closure of the deduped canonical pairs IS the
    deduped symmetric closure), half the shuffle bytes and half the
    dedup hash-table load. The closing symmetrize emits both
    orientations with an in-partition explode rather than a union: a
    union of the dedup output with its swapped projection CONCATENATES
    partitions, so every persisted construction cache (and every scan
    of it) would carry 2× the partitions/blocks of the pre-round
    layout (measured 32 → 64 at s16, guide §2.2); the explode keeps
    the exchange's partition count and co-locates (a,b) with (b,a).
    Falls back to the original order when payload columns are present
    (canonical flipping would have to pick which payload row survives).

    ``max_id`` (guide §2.3 narrower types, round 13): when the caller
    PROVES every vertex id fits an int32 (generators know it — ids at
    SCALE s are < 2^s, so any s ≤ 30 qualifies), the rows crossing the
    one construction exchange are cast to int32 — half the shuffled
    key bytes and half the dedup hash-table width — and cast back to
    the declared LongType after the in-partition symmetrize, so the
    output schema and values are bit-identical (int32 casts are exact
    below 2^31, dedup on the casted pairs equals dedup on the longs
    because the cast is injective there). The bound is checked in the
    same projection: an id outside ``[0, max_id]`` raises instead of
    wrapping. Ignored on payload inputs.
    """
    narrow = max_id is not None and 0 <= int(max_id) < 2**31
    if set(edges_raw.columns) == {"src", "dst"}:
        canonical = remove_self_loops(edges_raw).select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        if narrow:
            # src <= dst here, so one test covers the whole bound; a
            # raise_error, not a wrap (ANSI off casts modulo 2^32)
            in_bound = (F.col("src") >= 0) & (F.col("dst") <= max_id)
            bad = F.format_string(
                "build_clean_edges: edge (%d, %d) outside max_id bound"
                f" [0, {int(max_id)}]",
                "src",
                "dst",
            )
            canonical = canonical.select(
                F.when(in_bound, F.col("src").cast("int"))
                .otherwise(F.raise_error(bad))
                .alias("src"),
                F.col("dst").cast("int").alias("dst"),
            )
        both = F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ),
            )
        )
        out = (
            dedup_edges(canonical)
            .select(both.alias("e"))
            .select("e.src", "e.dst")
        )
        if narrow:
            out = out.select(
                F.col("src").cast("long").alias("src"),
                F.col("dst").cast("long").alias("dst"),
            )
        return out
    return dedup_edges(symmetrize(remove_self_loops(edges_raw)))


def build_adjacency(edges_clean: DataFrame) -> DataFrame:
    """CSR analogue: [src, neighbors: sorted array<long>, degree].

    sort_array gives deterministic neighbor order (the reference sorts
    adjacency for dedup + locality, graph_constructor.hpp:1363-1412).
    One shuffle on src; at scale, persist/bucket this by src so each
    BFS level reuses the partitioning.
    """
    return edges_clean.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("neighbors"),
        F.count(F.lit(1)).alias("degree"),
    )


def bipartite_project(
    bipartite: DataFrame, min_weight: int = 1, max_group: int | None = None
) -> DataFrame:
    """One-mode projection of a bipartite edge list [item, grp]:
    [src, dst, weight] where src < dst are items sharing ≥ min_weight
    groups and weight = number of shared groups.

    The standard graph-construction step the reference's fixed pipeline
    never needs but any graph ETL engine does (e.g. part–part
    co-occurrence from order lineitems). Implementation is a self-join
    on the group key + pair aggregation — two shuffles total.

    Scale notes: a group with g members emits g·(g−1)/2 pairs, so one
    hub group dominates the output quadratically. `max_group` caps
    membership (groups above it are dropped BEFORE the self-join —
    the standard mitigation, since mega-group co-occurrence carries
    ~no signal); with the cap the join's per-key fan-out is bounded
    and AQE handles residual skew.
    """
    b = bipartite.select("item", "grp")
    if max_group is not None:
        sizes = b.groupBy("grp").agg(F.count(F.lit(1)).alias("g_size"))
        b = (
            b.join(
                F.broadcast(sizes.filter(F.col("g_size") <= max_group)),
                "grp",
            )
            .select("item", "grp")
        )
    left = b.select(F.col("item").alias("src"), "grp")
    right = b.select(F.col("item").alias("dst"), "grp")
    return (
        left.join(right, "grp")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
        .filter(F.col("weight") >= min_weight)
    )


def ego_subgraph(
    spark,
    edges_clean,
    root: int,
    k: int,
    **bfs_kwargs,
):
    """Induced k-hop ego subgraph: the edges whose BOTH endpoints lie
    within depth k of ``root`` — the neighborhood-extraction primitive
    (sampling a training subgraph, local-structure features, debugging
    a vertex). One bounded BFS + two semi-joins on the reached set;
    like the BFS loop itself, the driver knows the reached count (the
    BFS result is a union of counted checkpointed frontiers) and
    injects the broadcast hint only while it fits the threshold the
    BFS levels use too (``functions/sizing.py``) — huge
    neighborhoods degrade to shuffle semi-joins."""
    from graph500_spark.operators.bfs import bfs

    # the session width governs unless the caller scopes one
    bfs_kwargs.setdefault("shuffle_partitions", None)
    reached = bfs(
        spark, edges_clean, root, max_depth=k, **bfs_kwargs
    ).select("vertex")
    reached = broadcast_if_fits(reached, reached.count())
    return (
        edges_clean.select("src", "dst")
        .join(reached.withColumnRenamed("vertex", "src"), "src", "left_semi")
        .join(reached.withColumnRenamed("vertex", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )


def graph_summary(edges_clean: DataFrame) -> DataFrame:
    """One-row dataset card for a cleaned symmetric graph:
    [n_vertices, n_directed_rows, n_undirected_edges, max_degree,
    avg_degree, density].

    All counts are exact integer aggregations from ONE scan (max
    degree via a grouped count that reuses the same exchange);
    avg_degree = 2m/n and density = m_und / C(n,2) are single float
    expressions rounded to 6 — the degree_assortativity exactness
    discipline applied to the global summary."""
    deg = edges_clean.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    agg = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.sum("d").cast("long").alias("n_directed_rows"),
        F.max("d").cast("long").alias("max_degree"),
    )
    return agg.select(
        "n_vertices",
        "n_directed_rows",
        (F.col("n_directed_rows") / 2).cast("long").alias(
            "n_undirected_edges"
        ),
        "max_degree",
        F.round(
            F.col("n_directed_rows") / F.col("n_vertices").cast("double"), 6
        ).alias("avg_degree"),
        F.round(
            F.col("n_directed_rows")
            / (
                F.col("n_vertices").cast("double")
                * (F.col("n_vertices") - 1)
            ),
            6,
        ).alias("density"),
    )


def graph_summary_sql(clean_sql: str) -> str:
    return (
        f"WITH clean AS ({clean_sql}),"
        " deg AS (SELECT src, COUNT(*) AS d FROM clean GROUP BY src),"
        " agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,"
        " CAST(SUM(d) AS BIGINT) AS n_directed_rows,"
        " CAST(MAX(d) AS BIGINT) AS max_degree FROM deg)"
        " SELECT n_vertices, n_directed_rows,"
        " CAST(n_directed_rows // 2 AS BIGINT) AS n_undirected_edges,"
        " max_degree,"
        " ROUND(n_directed_rows / CAST(n_vertices AS DOUBLE), 6)"
        " AS avg_degree,"
        " ROUND(n_directed_rows / (CAST(n_vertices AS DOUBLE)"
        " * (n_vertices - 1)), 6) AS density"
        " FROM agg"
    )


def degree_histogram_log(edges_clean: DataFrame) -> DataFrame:
    """Power-law readout: [log2_bucket, n_vertices, min_degree,
    max_degree] — vertices bucketed by floor(log2(degree)).

    The constant-size summary of a heavy-tailed degree distribution
    (a straight line in this histogram = the R-MAT/scale-free
    signature; the full exact distribution is degree_distribution).
    Integer-only bucketing: floor(log2(d)) computed as
    length-in-bits − 1, identical in both engines."""
    deg = edges_clean.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    # floor(log2(d)) for d >= 1 via bit length (exact integer path —
    # float log2 could round 2^k - epsilon differently per engine)
    bucket = (
        F.length(F.conv(F.col("d").cast("string"), 10, 2)) - 1
    ).cast("integer")
    return (
        deg.select(bucket.alias("log2_bucket"), "d")
        .groupBy("log2_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.min("d").alias("min_degree"),
            F.max("d").alias("max_degree"),
        )
    )


def degree_histogram_log_sql(clean_sql: str) -> str:
    return (
        f"WITH clean AS ({clean_sql}),"
        " deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d"
        " FROM clean GROUP BY src)"
        " SELECT CAST(length(bin(d)) - 1 AS INTEGER) AS log2_bucket,"
        " CAST(COUNT(*) AS BIGINT) AS n_vertices,"
        " MIN(d) AS min_degree, MAX(d) AS max_degree"
        " FROM deg GROUP BY 1"
    )


SUBGRAPH_HASH_K = 2654435761
SUBGRAPH_HASH_MOD = 1000000007


def sampled_subgraph(
    edges_clean: DataFrame, keep_permille: int = 500
) -> DataFrame:
    """Induced-subgraph node sampling: [src, dst] — edges whose BOTH
    endpoints fall in a deterministic hash-sampled vertex subset
    (keep_permille of 1000).

    The graph-ML minibatch / scale-down-experiment primitive: node
    sampling preserves degree-distribution shape (each vertex kept
    with equal probability, independent of degree), and the
    multiplicative-hash decision makes the sample stable under graph
    growth (a vertex's membership never changes when edges are
    added). Plan: two narrow per-row hash predicates — the filter is
    pushed inside the scan, no shuffle, no join."""
    def kept(col: str):
        return (
            (F.col(col) * SUBGRAPH_HASH_K) % SUBGRAPH_HASH_MOD % 1000
            < keep_permille
        )

    return edges_clean.select("src", "dst").filter(
        kept("src") & kept("dst")
    )


def sampled_subgraph_sql(clean_sql: str, keep_permille: int = 500) -> str:
    def kept(col: str) -> str:
        return (
            f"({col} * {SUBGRAPH_HASH_K}) % {SUBGRAPH_HASH_MOD} % 1000"
            f" < {keep_permille}"
        )

    return (
        f"WITH clean AS ({clean_sql})"
        f" SELECT src, dst FROM clean"
        f" WHERE {kept('src')} AND {kept('dst')}"
    )


def reciprocity(edges_directed: DataFrame) -> DataFrame:
    """One-row [n_edges, n_reciprocal, reciprocity] over a directed
    dedup'd edge list: the fraction of edges whose reverse also
    exists (follows-back rate in social graphs; 1.0 for symmetric
    inputs).

    One self-semi-join on the reversed key + two counts sharing the
    scan; the final ratio is a single float division rounded to 6."""
    edges = edges_directed.select("src", "dst")
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    recip = edges.join(rev, ["src", "dst"], "left_semi")
    total = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    nrec = recip.agg(
        F.count(F.lit(1)).cast("long").alias("n_reciprocal")
    )
    return total.crossJoin(nrec).select(
        "n_edges",
        "n_reciprocal",
        F.round(
            F.col("n_reciprocal") / F.col("n_edges").cast("double"), 6
        ).alias("reciprocity"),
    )


def reciprocity_sql(directed_sql: str) -> str:
    return (
        f"WITH e AS ({directed_sql}),"
        " r AS (SELECT e.src, e.dst FROM e"
        " WHERE EXISTS (SELECT 1 FROM e e2"
        "  WHERE e2.src = e.dst AND e2.dst = e.src)),"
        " t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e),"
        " n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reciprocal FROM r)"
        " SELECT n_edges, n_reciprocal,"
        " ROUND(n_reciprocal / CAST(n_edges AS DOUBLE), 6) AS reciprocity"
        " FROM t, n"
    )


def weighted_degrees(edges_weighted: DataFrame) -> DataFrame:
    """[vertex, degree, strength] — count and summed edge weight per
    vertex over a weighted symmetric edge list (strength = the
    weighted-graph degree generalization; exact integer sums)."""
    return edges_weighted.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).cast("long").alias("degree"),
        F.sum("weight").cast("long").alias("strength"),
    )


def weighted_degrees_sql(weighted_sql: str) -> str:
    return (
        f"WITH we AS ({weighted_sql})"
        " SELECT src AS vertex, CAST(COUNT(*) AS BIGINT) AS degree,"
        " CAST(SUM(weight) AS BIGINT) AS strength"
        " FROM we GROUP BY src"
    )


# Per-candidate-slot offset for multi-negative sampling: slot i adds
# i·SALT before the mod, decorrelating the k partners of one vertex.
# SALT < SUBGRAPH_HASH_MOD and coprime to it (MOD is prime).
NEG_SAMPLE_SALT = 777767777


def negative_edge_samples(edges_clean: DataFrame, k: int = 1) -> DataFrame:
    """[u, v] — deterministic NON-edge vertex pairs, the negative
    examples a link-prediction training set pairs against its
    positives (u < v after normalization, up to ``k`` candidates per
    source vertex, only pairs whose both endpoints exist in the
    graph). Real link-pred training wants k ≈ 5-20 negatives per
    positive; k=1 is the legacy single-candidate form (slot 0's
    partner is bit-identical to it).

    Candidate partner i ∈ [0, k) for vertex u is the multiplicative
    hash w_i = (u·K + 1 + i·SALT) mod M mod (max_vertex + 1) — stable
    under graph growth like sampled_subgraph, no RNG state. Pipeline:
    one scalar max reduce, a narrow per-row k-slot explode (k map
    columns — NEVER a quadratic candidate space; the candidate count
    is k·|V| before filtering), a semi-join to keep partners that are
    real vertices, an anti-join against the edge set (both
    orientations covered by the symmetric edge list), and u ≠ w.
    At 100 TB: two hash shuffles on vertex id, independent of k."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    verts = edges_clean.select(F.col("src").alias("u")).distinct()
    max_v = verts.agg(F.max("u").alias("m"))
    offsets = F.array(*[F.lit(i * NEG_SAMPLE_SALT) for i in range(k)])
    cand = (
        verts.crossJoin(F.broadcast(max_v))
        .select("u", "m", F.explode(offsets).alias("off"))
        .select(
            "u",
            (
                (F.col("u") * SUBGRAPH_HASH_K + 1 + F.col("off"))
                % SUBGRAPH_HASH_MOD
                % (F.col("m") + 1)
            ).alias("w"),
        )
        .filter(F.col("u") != F.col("w"))
    )
    cand = cand.join(
        verts.select(F.col("u").alias("w")), "w", "left_semi"
    )
    pairs = cand.select(
        F.least("u", "w").alias("u"), F.greatest("u", "w").alias("v")
    ).distinct()
    return pairs.join(
        edges_clean.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        ["u", "v"],
        "left_anti",
    )


def negative_edge_samples_sql(clean_sql: str, k: int = 1) -> str:
    hk, m = SUBGRAPH_HASH_K, SUBGRAPH_HASH_MOD
    offs = ", ".join(f"({i * NEG_SAMPLE_SALT})" for i in range(max(1, k)))
    return (
        f"WITH clean AS ({clean_sql}),"
        " verts AS (SELECT DISTINCT src AS u FROM clean),"
        " mx AS (SELECT MAX(u) AS m FROM verts),"
        f" offs(off) AS (VALUES {offs}),"
        f" cand AS (SELECT u, (u * {hk} + 1 + off) % {m} % (mx.m + 1) AS w"
        "  FROM verts, mx, offs),"
        " cand2 AS (SELECT c.u, c.w FROM cand c"
        "  JOIN verts vv ON vv.u = c.w WHERE c.u <> c.w),"
        " pairs AS (SELECT DISTINCT LEAST(u, w) AS u,"
        "  GREATEST(u, w) AS v FROM cand2)"
        " SELECT p.u, p.v FROM pairs p"
        " WHERE NOT EXISTS (SELECT 1 FROM clean e"
        "  WHERE e.src = p.u AND e.dst = p.v)"
    )
