"""Round-10 operators: JS source divergence, power-law MLE, quality
calibration, hub ablation, RRF fusion — closed-form / brute-force
parity on small inputs (the oracle gate covers engine parity)."""

from __future__ import annotations

import heapq
import math
from collections import defaultdict

from graph500_spark.operators.components import hub_ablation_components
from graph500_spark.operators.simsearch import rrf_fusion
from graph500_spark.operators.stats import powerlaw_alpha_mle
from graph500_spark.operators.text import quality_dup_calibration
from graph500_spark.operators.traindata import js_source_divergence

DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows], DOC_SCHEMA
    )


def test_js_zero_for_identical_mixes(spark):
    # both sources share the exact token distribution -> every ratio
    # p/m and q/m is 1, every quantized log is 0, js_ppm = 0 exactly
    docs = _docs(
        spark,
        [(0, "alpha beta beta", "a"), (1, "alpha beta beta", "b")],
    )
    rows = {r["source"]: r["js_ppm"] for r in js_source_divergence(docs).collect()}
    assert rows == {"a": 0, "b": 0}


def test_js_disjoint_vocabulary_closed_form(spark):
    # source a = {x}, source b = {y}; corpus = 50/50. Mirror the
    # operator's quantization exactly: per-term micro-nat logs,
    # integer sums, final rounded double.
    docs = _docs(spark, [(0, "xx", "a"), (1, "yy", "b")])
    got = {r["source"]: r["js_ppm"] for r in js_source_divergence(docs).collect()}

    def expected():
        # per source: a-counts over corpus terms [own:1, other:0],
        # A=1, b=1 each, B=2
        A, B = 1, 2
        s1 = 0
        s2 = 0
        for a, b in ((1, 1), (0, 1)):
            ab, ba = a * B, b * A
            if a:
                s1 += a * round(math.log(2 * ab / (ab + ba)) * 1e6)
            s2 += b * round(math.log(2 * ba / (ab + ba)) * 1e6)
        return round(s1 / (2.0 * A) + s2 / (2.0 * B))

    assert got["a"] == expected() and got["b"] == expected()


def test_powerlaw_alpha_closed_form(spark):
    degs = spark.createDataFrame(
        [(1, 2), (2, 2), (3, 4), (4, 8), (5, 1)],  # d=1 filtered out
        "vertex long, degree long",
    )
    row = powerlaw_alpha_mle(degs, d_min=2).collect()[0]
    s = (
        2 * round(math.log(2 / 1.5) * 1e6)
        + round(math.log(4 / 1.5) * 1e6)
        + round(math.log(8 / 1.5) * 1e6)
    )
    assert row["n_tail"] == 4
    assert row["d_min"] == 2
    assert row["alpha_micro"] == 1_000_000 + round(4 * 1e12 / s)


def test_quality_calibration_invariants(spark):
    rows = [(i, f"unique text number {i} with words", "s") for i in range(8)]
    rows += [(8, "twin text", "s"), (9, "twin text", "s")]
    docs = _docs(spark, rows)
    out = quality_dup_calibration(docs).collect()
    assert sum(r["n_docs"] for r in out) == 10
    assert sum(r["n_dup_docs"] for r in out) == 2
    assert all(0 <= r["decile"] <= 9 for r in out)
    assert sum(r["sum_chars"] for r in out) == sum(
        len(t) for _, t, _ in rows
    )


def test_hub_ablation_star_plus_triangle(spark):
    # hub 0 -> leaves 1..5; disjoint triangle 6-7-8. Removing the one
    # hub isolates the leaves (they vanish from the edge list), so the
    # survivor graph is exactly the triangle.
    und = [(0, i) for i in range(1, 6)] + [(6, 7), (7, 8), (6, 8)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    row = hub_ablation_components(spark, edges, n_hubs=1).collect()[0]
    assert row["n_removed"] == 1
    assert row["n_survivors"] == 3
    assert row["n_components"] == 1
    assert row["giant_size"] == 3
    assert row["giant_frac_ppm"] == 1_000_000


def test_rrf_fusion_rank_contract(spark):
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    embs = spark.read.parquet(f"{sf}/embeddings.parquet")
    out = rrf_fusion(docs, embs, k=5, m=10).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    max_contrib = 2 * round(1e6 / 61)
    for q, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        scores = [
            r["rrf_micro"] for r in sorted(rows, key=lambda r: r["rank"])
        ]
        assert all(a >= b for a, b in zip(scores, scores[1:]))
        assert all(0 < s <= max_contrib for s in scores)
    assert by_q, "query set must be non-empty"


def test_msf_oracle_toy_graph():
    """The unrolled-Boruvka SQL on a graph with a cycle + a separate
    component — the MST must drop exactly the heaviest cycle edge."""
    import duckdb

    from graph500_spark.operators.mst import minimum_spanning_forest_sql

    w = (
        "SELECT 1 AS src, 2 AS dst, 1 AS weight UNION ALL"
        " SELECT 2, 3, 2 UNION ALL SELECT 1, 3, 3 UNION ALL"
        " SELECT 4, 5, 7"
    )
    got = sorted(
        duckdb.connect()
        .execute(minimum_spanning_forest_sql(w, rounds=4))
        .fetchall()
    )
    assert got == [(1, 2, 1), (2, 3, 2), (4, 5, 7)]


def test_louvain_oracle_matches_spark_on_barbell(spark):
    """Two 4-cliques joined by one bridge — Spark louvain_communities
    and the unrolled-CTE oracle must agree bit-for-bit on a graph
    shape neither SF fixture exhibits."""
    import duckdb

    from graph500_spark.operators.louvain import (
        louvain_communities,
        louvain_communities_sql,
    )

    und = []
    for base in (0, 10):
        for i in range(4):
            for j in range(i + 1, 4):
                und.append((base + i, base + j))
    und.append((3, 10))  # bridge
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    sdf = louvain_communities(spark, edges, shuffle_partitions=4)
    got = sorted((r["vertex"], r["community"]) for r in sdf.collect())
    vals = " UNION ALL ".join(
        f"SELECT {a} AS src, {b} AS dst" for a, b in und
    ) + " UNION ALL " + " UNION ALL ".join(
        f"SELECT {b} AS src, {a} AS dst" for a, b in und
    )
    odf = duckdb.connect().execute(
        louvain_communities_sql(vals)
    ).fetchall()
    assert got == sorted(odf)
    # the two cliques must resolve to two communities
    assert len({c for _, c in got}) == 2


def dijkstra_reference(edges, root):
    """Driver-side Dijkstra over directed (src, dst, weight) rows:
    {vertex: (dist, pred)} with pred = min u such that
    dist(u) + w(u, v) = dist(v); the root is (0, root)."""
    adj = defaultdict(list)
    for s, d, w in edges:
        adj[s].append((d, w))
    dist = {root: 0}
    heap = [(0, root)]
    while heap:
        du, u = heapq.heappop(heap)
        if du > dist[u]:
            continue
        for v, w in adj[u]:
            if v not in dist or du + w < dist[v]:
                dist[v] = du + w
                heapq.heappush(heap, (du + w, v))
    pred = {root: root}
    for s, d, w in edges:
        if d != root and s in dist and dist[s] + w == dist.get(d):
            pred[d] = min(pred.get(d, s), s)
    return {v: (dv, pred[v]) for v, dv in dist.items()}


def test_sssp_multi_equals_sequential(spark):
    """Each tree from the shared multi-source loop must be
    bit-identical to the sequential single-source run, and both must
    equal the driver-side Dijkstra."""
    from graph500_spark.operators.sssp import sssp, sssp_multi
    from graph500_spark.plans.queries import (
        SSSP_WEIGHT_EXPR,
        clean_mod997_graph,
    )
    from pyspark.sql import functions as F

    clean = clean_mod997_graph(spark, "/root/testdata/sf0.001")
    weighted = clean.withColumn("weight", F.expr(SSSP_WEIGHT_EXPR))
    rows = [
        (r["src"], r["dst"], r["weight"])
        for r in weighted.select("src", "dst", "weight").collect()
    ]
    roots = [1, 5]
    multi = sssp_multi(spark, weighted, roots, shuffle_partitions=4)
    got = {
        (r["source"], r["vertex"]): (r["dist"], r["pred"])
        for r in multi.collect()
    }
    for root in roots:
        seq = sssp(spark, weighted, root, shuffle_partitions=4)
        want = {
            (root, r["vertex"]): (r["dist"], r["pred"])
            for r in seq.collect()
        }
        assert {k: v for k, v in got.items() if k[0] == root} == want
        ref = {
            (root, v): dp for v, dp in dijkstra_reference(rows, root).items()
        }
        assert want == ref, f"sssp from {root} != reference"
        assert {k: v for k, v in got.items() if k[0] == root} == ref
