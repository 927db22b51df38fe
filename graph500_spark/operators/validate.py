"""BFS-result validation — the reference's 5 spec checks as DataFrame
queries (SURVEY.md §3.3; mpi/validate.hpp:489-802).

Data model: ``pred_df`` is the unpacked predecessor map
``[vertex: long, pred: long|null, depth: int|null]`` — NULL pred/depth
means "unreached" (the reference packs (depth<<48)|parent into one
int64 with -1 / 0xFFFF sentinels, validate.hpp:806-819; we use honest
nullable columns instead).

Each check returns a DataFrame of violation rows (empty == pass);
``validate_bfs`` aggregates them into one summary. These are both
product operators (J3/J4/A5/A6) and the engine's own test oracle,
exactly as in the reference.

One definition per check, keyed like ``bfs._bfs_levels``: every
private builder takes a ``key`` list naming the columns that tell
independent trees apart — ``[]`` for one tree (the root is
``F.lit(root)``) and ``["root"]`` for a multi-root table ``[root,
vertex, pred, depth]`` from ``bfs_multi`` (the root is
``F.col("root")``). Every join runs on ``[*key, ...]``, so a
single-root plan carries no constant key column: the optimized plans
of the five ``check_*`` functions, ``validate_bfs`` and
``edge_visit_count`` are what a check written for one tree compiles
to. The batched forms (``validate_bfs_multi``,
``edge_visit_counts_multi``) are the same builders with key
``["root"]``, so their per-root counts are ``validate_bfs`` /
``edge_visit_count`` on each root's slice by construction.

``violation_summary`` is the one [check, violations] reducer (also
used by ``sssp.validate_sssp``). For key ``[]`` it is one global
count per check, joined by a union. For key ``["root"]`` the
labelled ``(root, check)`` violation rows of all checks are unioned
and grouped ONCE on ``(root, check)``, and a roots × checks grid is
left-joined on so that a clean root reports 0: one exchange for the
grouping instead of one per check (``validate_bfs_multi`` on kron s7
with 3 roots, 15 → 11 Spark jobs). The single-root summary keeps its
per-check form on measurement: the union → ``groupBy("check")`` →
left join against the check list cut ``validate_bfs`` + its count
from 10 to 7 jobs but raised the median from 1.83 s to 2.38 s
(local[4], kron s14, seeds (2, 3), 3 roots × 4 reps, order
alternating).

Scale notes: every check is 1-2 equi-joins + a filter — shuffle joins
on vertex id that AQE can re-plan; pred_df is usually far smaller than
the edge list, so Catalyst broadcasts it when it fits. Check 4 needs
every (edge, tree) pair: for key ``["root"]`` the edge list is
cross-joined with the broadcast root list (n_roots × |E| rows, exactly
the work the reference does, mpi/main.cc:129-146 validates every root
over the full edge list).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _claims(pred_df: DataFrame, r: Column) -> DataFrame:
    """Reached non-root rows: each claims the tree edge (v, pred[v])."""
    return pred_df.filter((F.col("vertex") != r) & F.col("pred").isNotNull())


def _value_ranges(
    pred_df: DataFrame, key: list[str], nglobalverts: int
) -> DataFrame:
    return pred_df.filter(
        F.col("pred").isNotNull()
        & ((F.col("pred") < 0) | (F.col("pred") >= F.lit(nglobalverts)))
    ).select(*key, "vertex", "pred", "depth")


def _root_and_self_parents(
    pred_df: DataFrame, key: list[str], r: Column
) -> DataFrame:
    bad_root = pred_df.filter(
        (F.col("vertex") == r) & (F.col("pred") != F.col("vertex"))
    )
    self_parent = _claims(pred_df, r).filter(
        F.col("pred") == F.col("vertex")
    )
    return bad_root.unionByName(self_parent).select(
        *key, "vertex", "pred", "depth"
    )


def _depth_consistency(
    pred_df: DataFrame, key: list[str], r: Column
) -> DataFrame:
    cols = [*key, "vertex", "pred", "depth"]
    null_mismatch = pred_df.filter(
        F.col("pred").isNull() != F.col("depth").isNull()
    ).select(*cols, F.lit("null_mismatch").alias("why"))

    bad_root_depth = pred_df.filter(
        (F.col("vertex") == r) & (F.col("depth") != F.lit(0))
    ).select(*cols, F.lit("root_depth").alias("why"))

    parent = pred_df.select(
        *[F.col(k).alias(f"p_{k}") for k in key],
        F.col("vertex").alias("p_vertex"),
        F.col("depth").alias("p_depth"),
    )
    on = F.col("pred") == F.col("p_vertex")
    for k in key:
        on = on & (F.col(k) == F.col(f"p_{k}"))
    bad_step = (
        _claims(pred_df, r)
        .join(parent, on, "left")
        .filter(
            F.col("p_depth").isNull()  # parent unreached or missing
            | (F.col("depth") != F.col("p_depth") + F.lit(1))
        )
        .select(*cols, F.lit("depth_step").alias("why"))
    )
    return null_mismatch.unionByName(bad_root_depth).unionByName(bad_step)


def _edge_depths(
    edges_raw: DataFrame, pred_df: DataFrame, key: list[str]
) -> DataFrame:
    """J3: annotate every raw edge with both endpoint depths (two joins)
    and keep the rows that break check 4."""
    depth = pred_df.select(*key, "vertex", "depth")
    src_d = depth.select(
        *key, F.col("vertex").alias("src"), F.col("depth").alias("src_depth")
    )
    dst_d = depth.select(
        *key, F.col("vertex").alias("dst"), F.col("depth").alias("dst_depth")
    )
    edges = edges_raw.select("src", "dst")
    if key:
        edges = edges.crossJoin(F.broadcast(pred_df.select(*key).distinct()))
    return (
        edges.join(src_d, [*key, "src"], "left")
        .join(dst_d, [*key, "dst"], "left")
        .filter(
            (F.col("src_depth").isNull() != F.col("dst_depth").isNull())
            | (
                F.col("src_depth").isNotNull()
                & F.col("dst_depth").isNotNull()
                & (F.abs(F.col("src_depth") - F.col("dst_depth")) > 1)
            )
        )
        .select(*key, "src", "dst", "src_depth", "dst_depth")
    )


def _tree_edges(
    edges_raw: DataFrame, pred_df: DataFrame, key: list[str], r: Column
) -> DataFrame:
    sym = edges_raw.select("src", "dst").unionByName(
        edges_raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    claims = _claims(pred_df, r).select(*key, "vertex", "pred", "depth")
    return claims.join(
        sym,
        (claims.vertex == sym.src) & (claims.pred == sym.dst),
        "left_anti",
    )


def _edge_visit_counts(
    edges_raw: DataFrame, pred_df: DataFrame, key: list[str]
) -> DataFrame:
    """[*key, edge_visit_count]: raw edges with both endpoints reached.

    edges ⋈ reach(src) fans out to at most |E| x n_trees rows (exactly
    the rows a per-root loop scans in total), then one (key, dst) join
    and one key-grouped count with map-side partials. An inner join,
    not a semi-join, on dst: for key ``[]`` that is the plan the
    left-join-and-filter form compiles to, and a semi-join would be
    pushed into every branch of a unioned edge list."""
    reach = pred_df.filter(F.col("depth").isNotNull())
    reach_src = reach.select(*key, F.col("vertex").alias("src"))
    reach_dst = reach.select(*key, F.col("vertex").alias("dst"))
    return (
        edges_raw.select("src", "dst")
        .join(reach_src, "src")
        .join(reach_dst, [*key, "dst"])
        .groupBy(*key)
        .agg(F.count(F.lit(1)).alias("edge_visit_count"))
    )


def _bfs_checks(
    edges_raw: DataFrame,
    pred_df: DataFrame,
    key: list[str],
    root: int | None,
    nglobalverts: int,
) -> dict[str, DataFrame]:
    r = F.col("root") if key else F.lit(root)
    return {
        "value_ranges": _value_ranges(pred_df, key, nglobalverts),
        "root_self_parents": _root_and_self_parents(pred_df, key, r),
        "depth_consistency": _depth_consistency(pred_df, key, r),
        "edge_depths": _edge_depths(edges_raw, pred_df, key),
        "tree_edges": _tree_edges(edges_raw, pred_df, key, r),
    }


def violation_summary(
    checks: dict[str, DataFrame], keys: DataFrame | None = None
) -> DataFrame:
    """[check, violations] per named violation-row frame; with a
    ``keys`` frame, [*keys.columns, check, violations] for every
    ``keys`` row (a key with no violation rows reports 0). Keyed, the
    labelled violation rows of all checks are unioned and grouped
    once on (*keys, check); unkeyed, each check is one global count
    (module docstring)."""
    if keys is None:
        out = None
        for name, df in checks.items():
            one = df.groupBy().agg(
                F.count(F.lit(1)).alias("violations")
            ).select(F.lit(name).alias("check"), "violations")
            out = one if out is None else out.unionByName(one)
        return out
    key = keys.columns
    rows = None
    for name, df in checks.items():
        one = df.select(*key, F.lit(name).alias("check"))
        rows = one if rows is None else rows.unionByName(one)
    counts = rows.groupBy(*key, "check").agg(
        F.count(F.lit(1)).alias("violations")
    )
    names = keys.sparkSession.createDataFrame(
        [(n,) for n in checks], "check string"
    )
    return (
        keys.crossJoin(F.broadcast(names))
        .join(counts, [*key, "check"], "left")
        .select(
            *key,
            "check",
            F.coalesce("violations", F.lit(0)).alias("violations"),
        )
    )


def check_value_ranges(pred_df: DataFrame, nglobalverts: int) -> DataFrame:
    """Check 1: every non-null parent id in [0, nglobalverts).

    Ref: check_value_ranges, mpi/validate.hpp:822-839.
    """
    return _value_ranges(pred_df, [], nglobalverts)


def check_root_and_self_parents(pred_df: DataFrame, root: int) -> DataFrame:
    """Check 2: pred[root]==root; no non-root vertex is its own parent.

    Ref: mpi/validate.hpp:530-571.
    """
    return _root_and_self_parents(pred_df, [], F.lit(root))


def check_depth_consistency(pred_df: DataFrame, root: int) -> DataFrame:
    """Check 3: depth[root]==0; reached ⇔ depth set; depth[v]==depth[pred[v]]+1.

    The parent lookup is the reference's distributed gather J4
    (check_bfs_depth_map_using_predecessors, validate.hpp:920-995)
    re-expressed as a self-join on the pred table.
    """
    return _depth_consistency(pred_df, [], F.lit(root))


def check_edge_depths(edges_raw: DataFrame, pred_df: DataFrame) -> DataFrame:
    """Check 4: no edge connects a reached and an unreached vertex, and
    endpoint depths differ by at most 1.

    Ref: mpi/validate.hpp:703-721 (error branches).
    """
    return _edge_depths(edges_raw, pred_df, [])


def check_tree_edges(
    edges_raw: DataFrame, pred_df: DataFrame, root: int
) -> DataFrame:
    """Check 5: every (v, pred[v]) of a reached non-root vertex exists as
    a graph edge (in either orientation of the raw undirected list).

    Ref: pred_valid marking, mpi/validate.hpp:722-792.
    Implemented as a left-anti join against the symmetrized edge set.
    """
    return _tree_edges(edges_raw, pred_df, [], F.lit(root))


def edge_visit_count(edges_raw: DataFrame, pred_df: DataFrame) -> DataFrame:
    """A5 (TEPS numerator): count raw input edges — including duplicates
    and self-loops — whose endpoints are both in the BFS tree.

    Ref: edge_visit_count, mpi/validate.hpp:703-721.
    """
    return _edge_visit_counts(edges_raw, pred_df, [])


def edge_visit_counts_multi(
    edges_raw: DataFrame, pred_multi: DataFrame
) -> DataFrame:
    """[root, edge_visit_count] — A5 batched over a multi-root pred
    table ``[root, vertex, ...]``: per root, the ``edge_visit_count``
    of that root's tree, in ONE dataflow instead of n_roots sequential
    jobs (the spec64 harness counted 64 TEPS numerators as 64
    driver-scheduled jobs, and the per-job floor dominates the batch).

    Ref: edge_visit_count, mpi/validate.hpp:703-721, batched over the
    runs of mpi/main.cc:129-146.
    """
    return _edge_visit_counts(edges_raw, pred_multi, ["root"])


def validate_bfs_multi(
    edges_raw: DataFrame, pred_multi: DataFrame, nglobalverts: int
) -> DataFrame:
    """All five checks batched over a MULTI-ROOT pred table
    ``[root, vertex, pred, depth]`` → [root, check, violations] —
    one dataflow for all roots instead of 5 × n_roots sequential
    passes (the spec64 harness validates 64 trees; per-root looping
    pays the per-query scheduling floor 320 times). Counts equal
    ``validate_bfs`` on each root's slice; a root with no violations
    of a check reports 0 (ref driver: validate_bfs_result,
    validate.hpp:1008-1019).
    """
    return violation_summary(
        _bfs_checks(edges_raw, pred_multi, ["root"], None, nglobalverts),
        pred_multi.select("root").distinct(),
    )


def validate_bfs(
    edges_raw: DataFrame, pred_df: DataFrame, root: int, nglobalverts: int
) -> DataFrame:
    """All five checks → [check: string, violations: long] summary.

    Ref driver: validate_bfs_result, mpi/validate.hpp:1008-1019.
    Unlike the reference (which aborts on first failing check), this
    reports every check's violation count as rows — friendlier for a
    relational engine and strictly more informative.
    """
    return violation_summary(
        _bfs_checks(edges_raw, pred_df, [], root, nglobalverts)
    )
