"""The benchmark's workloads: each drives the program through its public
functions, times its phases, and checks every output against a
reference computed outside the timed region.

A run has three parts:

* **set-up**, done ``setups`` times over (the first is cold; ``setup_s``
  is the median): Graph500 generation + construction + root sampling, or
  the construction of the query fixtures;
* the **window**: passes repeat until ``--seconds`` is spent, starting a
  new pass only while the last one still fits;
* **checks**, outside the timed region.

A pass is one unit of the workload's work: for ``g500-s14-strict``, three
roots one at a time (each root's BFS, its five spec checks and its
edge-visit count) and the statistics over them; for
``iterative-stream``, the six iterative queries and one streaming ingest.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import inputs
from spans import Recorder, Span

# Sizes per workload; "tiny" is the self-test size.
SIZES = {
    "g500-s14-strict": {
        "full": {"scale": 14, "edgefactor": 16, "roots": 16, "roots_per_pass": 3, "setups": 3},
        "tiny": {"scale": 8, "edgefactor": 16, "roots": 2, "roots_per_pass": 2, "setups": 1},
    },
    "iterative-stream": {
        "full": {
            "sf_mod997": 0.01, "sf_hetero": 0.001, "docs": 2500, "replicas": 2,
            "files": 8, "files_per_trigger": 2, "setups": 3,
        },
        "tiny": {
            "sf_mod997": 0.001, "sf_hetero": 0.001, "docs": 200, "replicas": 2,
            "files": 1, "files_per_trigger": 1, "setups": 1,
        },
    },
}

# edge_visit_count that every root must report at the specification
# seed pair (2, 3) — pf_nedge of the reference implementation's log
GOLDEN_EDGES = {14: 262_144}


@dataclass
class Context:
    spark: object
    rec: Recorder
    seed: int
    seconds: float
    size: dict
    work: str
    inject: str | None = None


@dataclass
class Outcome:
    setup_s: list[float] = field(default_factory=list)
    passes: list[Span] = field(default_factory=list)  # timed passes only
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok


def window(ctx: Context, out: Outcome, run_pass) -> None:
    """Call ``run_pass(i, span)`` until ``ctx.seconds`` are spent, starting
    a pass only while the previous one would still fit; at least one
    pass runs."""
    deadline = time.perf_counter() + ctx.seconds
    last = 0.0
    i = 0
    while i == 0 or time.perf_counter() + last <= deadline:
        with ctx.rec.span("pass", kind="pass", index=i) as sp:
            t0 = time.perf_counter()
            run_pass(i, sp)
            last = time.perf_counter() - t0
        out.passes.append(sp)
        i += 1


# ---------------------------------------------------------------------------
# g500-s14-strict
# ---------------------------------------------------------------------------


def g500_strict(ctx: Context) -> Outcome:
    from graph500_spark.operators import bfs as bfs_mod
    from graph500_spark.operators import graph_build, roots, stats, validate
    from graph500_spark.sources import generator

    spark, rec, size = ctx.spark, ctx.rec, ctx.size
    scale, ef = size["scale"], size["edgefactor"]
    nverts = 1 << scale
    # seed 0 is the specification pair (2, 3)
    userseeds = (2 + ctx.seed, 3 + ctx.seed)
    out = Outcome()

    raw = clean = None
    for _ in range(size["setups"]):
        if clean is not None:
            clean.unpersist()
            raw.unpersist()
        with rec.span("setup", kind="setup"):
            t0 = time.perf_counter()
            with rec.span("generator") as sp:
                raw = generator.generate_kronecker_edges(
                    spark, scale, ef, *userseeds
                ).persist()
                n_raw = raw.count()
                if sp:
                    sp.attrs["edges"] = n_raw
            with rec.span("graph_build") as sp:
                clean = graph_build.build_clean_edges(
                    raw, max_id=nverts - 1
                ).persist()
                n_clean = clean.count()
                if sp:
                    sp.attrs["edges_out"] = n_clean
            with rec.span("roots"):
                root_list = roots.find_roots(spark, raw, nverts, size["roots"])
            out.setup_s.append(time.perf_counter() - t0)

    # reference: the generator's kernel replayed on the driver
    idx = np.arange(nverts * ef, dtype=np.int64)
    src, dst = generator.rmat_edges_numpy(scale, idx, *userseeds)
    expect = inputs.bfs_reference(src, dst, nverts, root_list)
    if ctx.inject == "golden":
        expect = {r: (n, e + 1, d) for r, (n, e, d) in expect.items()}
    golden = GOLDEN_EDGES.get(scale) if ctx.seed == 0 else None

    k = size["roots_per_pass"]

    def run_root(root: int) -> dict:
        t0 = time.perf_counter()
        with rec.span("bfs", root=root, supersteps=expect[root][2] + 1):
            # supersteps: one per BFS level, plus the empty last level
            pred = bfs_mod.bfs(
                spark, clean, root, prepartition=False, edge_count=n_clean
            ).persist()
            n_reached = pred.count()
        t1 = time.perf_counter()
        checked = pred
        if ctx.inject == "pred":
            # re-parent the root's children onto a vertex they have no edge to
            checked = pred.withColumn(
                "pred",
                F.when(F.col("depth") == 1, F.lit(nverts - 1)).otherwise(F.col("pred")),
            )
        with rec.span("validate", root=root):
            summary = validate.validate_bfs(raw, checked, root, nverts)
            bad = summary.filter(F.col("violations") > 0).count()
            ec = validate.edge_visit_count(raw, checked).collect()[0][
                "edge_visit_count"
            ]
        t2 = time.perf_counter()
        pred.unpersist()
        return {
            "root": root, "bfs_s": t1 - t0, "validate_s": t2 - t1,
            "edges": int(ec), "reached": n_reached, "violations": bad,
        }

    def run_pass(i: int, sp: Span) -> None:
        runs = [run_root(root_list[(i * k + j) % len(root_list)]) for j in range(k)]
        with rec.span("stats"):
            runs_df = spark.createDataFrame(
                [(j, r["bfs_s"], r["validate_s"], float(r["edges"])) for j, r in enumerate(runs)],
                "run_id int, bfs_time double, validate_time double, edge_count double",
            )
            stats.run_statistics(runs_df).collect()
            teps = stats.teps_summary(runs_df).collect()[0]
        sp.attrs.update(roots=runs, harmonic_teps=teps["harmonic_mean_teps"])

    window(ctx, out, run_pass)

    for sp in out.passes:
        for a in sp.attrs["roots"]:
            out.attempted += 1
            root = a["root"]
            n_exp, e_exp, _ = expect[root]
            ok = out.check(a["violations"] == 0, f"root {root}: {a['violations']} spec checks failed")
            ok &= out.check(a["reached"] == n_exp, f"root {root}: reached {a['reached']}, expected {n_exp}")
            ok &= out.check(a["edges"] == e_exp, f"root {root}: edge_visit_count {a['edges']}, expected {e_exp}")
            if golden is not None:
                ok &= out.check(a["edges"] == golden, f"root {root}: edge_visit_count {a['edges']}, golden {golden}")
            out.failed += not ok
        # the statistics layer against the same formula on the driver
        hm = 1.0 / statistics.mean(a["bfs_s"] / a["edges"] for a in sp.attrs["roots"])
        out.attempted += 1
        out.failed += not out.check(
            abs(sp.attrs["harmonic_teps"] - hm) <= 1e-9 * hm,
            f"teps_summary harmonic mean {sp.attrs['harmonic_teps']}, expected {hm}",
        )
    out.metrics["stats.harmonic_teps"] = statistics.median(
        sp.attrs["harmonic_teps"] for sp in out.passes
    )
    clean.unpersist()
    raw.unpersist()
    return out


# ---------------------------------------------------------------------------
# iterative-stream
# ---------------------------------------------------------------------------


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: columns sorted by name, ints
    widened, floats rounded to 6 digits, rows sorted (the normalization of
    tools/compare_oracle.py, kept here so the benchmark's checks do not
    move with that tool)."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return hashlib.sha256(
        df.to_csv(index=False, float_format="%.6f").encode()
    ).hexdigest()


def iterative_stream(ctx: Context) -> Outcome:
    from graph500_spark.operators import centrality, components, corpus, kcore
    from graph500_spark.operators import dedup, pagerank, pregel, sssp, text
    from graph500_spark.plans import queries as Q
    from graph500_spark.streaming.corpus_ingest import (
        read_corpus,
        start_corpus_ingest,
    )

    spark, rec, size = ctx.spark, ctx.rec, ctx.size
    out = Outcome()
    rng = np.random.default_rng(ctx.seed)
    sssp_root = int(rng.integers(0, 997))
    n_cust = max(1, int(15_000 * size["sf_hetero"]))
    bc_roots = [1_000_000 + int(rng.integers(0, 25))] + [
        int(v) for v in rng.choice(n_cust, 2, replace=False)
    ]

    # one copy of the tables per set-up: the fixtures cache by directory
    dirs = []
    for k in range(size["setups"]):
        d = (os.path.join(ctx.work, f"mod997-{k}"), os.path.join(ctx.work, f"hetero-{k}"))
        inputs.write_tables(d[0], size["sf_mod997"], ctx.seed)
        inputs.write_tables(d[1], size["sf_hetero"], ctx.seed)
        dirs.append(d)
    docs_dir = os.path.join(ctx.work, "docs")
    n_rows = inputs.write_documents(
        docs_dir, size["docs"], size["replicas"], size["files"], ctx.seed
    )
    n_batches = -(-size["files"] // size["files_per_trigger"])

    graph = hetero = None
    for d_mod, d_het in dirs:
        if graph is not None:
            graph.unpersist()
            hetero.unpersist()
        with rec.span("setup", kind="setup"):
            t0 = time.perf_counter()
            with rec.span("queries"):
                graph = Q.clean_mod997_graph(spark, d_mod)
                hetero = Q.clean_hetero_graph(spark, d_het)
            out.setup_s.append(time.perf_counter() - t0)

    queries = {
        "sssp": lambda: sssp.sssp(
            spark, graph.withColumn("weight", F.expr(Q.SSSP_WEIGHT_EXPR)),
            sssp_root, shuffle_partitions=8,
        ),
        "components": lambda: components.connected_components(
            spark, graph, shuffle_partitions=8
        ),
        "kcore": lambda: kcore.core_numbers(graph),
        "pagerank": lambda: pagerank.pagerank(spark, graph, shuffle_partitions=8),
        "pregel": lambda: pregel.label_propagation(
            spark, graph, shuffle_partitions=8
        ),
        "centrality": lambda: centrality.betweenness_sampled(
            spark, hetero, bc_roots, shuffle_partitions=8
        ),
    }
    results: list[dict[str, pd.DataFrame]] = []
    streams: list[dict] = []

    def run_pass(i: int, sp: Span) -> None:
        got = {}
        for layer, query in queries.items():
            with rec.span(layer):
                got[layer] = query().toPandas()
        results.append(got)
        base = os.path.join(ctx.work, f"stream-{i}")
        with rec.span("corpus_ingest") as lsp:
            t0 = time.perf_counter()
            q = start_corpus_ingest(
                spark, docs_dir, os.path.join(base, "accepted"),
                os.path.join(base, "checkpoint"),
                max_files_per_trigger=size["files_per_trigger"],
            )
            rec.adopt_group(str(q.runId))
            q.awaitTermination()
            wall = time.perf_counter() - t0
        # numInputRows over-counts when foreachBatch reads its batch twice,
        # so a batch is any trigger that read input at all
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        info = {
            "wall": wall,
            "accepted_out": os.path.join(base, "accepted"),
            "batch_s": [p["durationMs"]["triggerExecution"] / 1e3 for p in progress],
        }
        streams.append(info)
        if lsp:
            lsp.attrs.update(
                batches=len(progress), batch_s=info["batch_s"],
                batch_ids=[p["batchId"] for p in progress],
            )

    window(ctx, out, run_pass)

    # oracles: the registry's SQL builders, on DuckDB over the same files;
    # clean_mod is build_clean_edges in SQL (drop self-loops, symmetrize,
    # dedup)
    d_mod, d_het = dirs[-1]
    clean_mod = (
        "WITH raw AS ({0}), nl AS (SELECT src, dst FROM raw WHERE src <> dst),"
        " sym AS (SELECT src, dst FROM nl UNION ALL SELECT dst, src FROM nl)"
        " SELECT DISTINCT src, dst FROM sym"
    ).format(Q.MOD997_EDGES_SQL)
    oracle_sql = {
        "sssp": (d_mod, Q.sssp_sql(clean_mod, sssp_root)),
        "components": (d_mod, Q.connected_components_sql(clean_mod)),
        "kcore": (d_mod, Q.core_numbers_sql(clean_mod)),
        "pagerank": (d_mod, Q.pagerank_sql(clean_mod)),
        "pregel": (d_mod, Q.label_propagation_sql(clean_mod)),
        "centrality": (
            d_het, centrality.betweenness_sampled_sql(Q.HETERO_EDGES_SQL, bc_roots)
        ),
    }
    expect = {}
    for layer, (d, sql) in oracle_sql.items():
        con = duckdb.connect()
        for t in inputs.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        expect[layer] = value_hash(con.execute(sql).df())
        con.close()
    if ctx.inject == "result":
        first = results[0]["sssp"]
        first.loc[first.index[0], "dist"] += 1
    for got in results:
        for layer, df in got.items():
            out.attempted += 1
            out.failed += not out.check(
                value_hash(df) == expect[layer], f"{layer}: value hash differs from the oracle"
            )

    # stream reference: the batch operators over the same documents
    with rec.span("stream-reference", kind="check"):
        docs = spark.read.parquet(docs_dir)
        surv = dedup.exact_duplicates(docs).select(F.col("rep_doc_id").alias("doc_id"))
        lang = text.language_id(docs).select("doc_id", "lang_pred")
        qual = text.text_quality(docs).select("doc_id", "quality_score")
        n_expect = (
            surv.join(lang, "doc_id").join(qual, "doc_id")
            .filter(
                (F.col("quality_score") >= corpus.MIN_QUALITY)
                & (F.col("lang_pred") != "und")
            )
            .count()
        )
        accepted = []
        for s in streams:
            acc = read_corpus(spark, s["accepted_out"]).select("text_hash")
            accepted.append(acc.agg(F.count("*"), F.countDistinct("text_hash")).first())
    for s, (n, n_distinct) in zip(streams, accepted):
        out.attempted += 1
        ok = out.check(n == n_distinct, f"stream accepted {n} rows, {n_distinct} distinct texts")
        ok &= out.check(n == n_expect, f"stream accepted {n} rows, batch reference {n_expect}")
        ok &= out.check(
            len(s["batch_s"]) == n_batches,
            f"stream ran {len(s['batch_s'])} micro-batches, expected {n_batches}",
        )
        out.failed += not ok
        s["accepted"] = n
    out.metrics["corpus_ingest.rows_per_s"] = statistics.median(
        n_rows / s["wall"] for s in streams
    )
    out.metrics["corpus_ingest.accepted_per_input"] = statistics.median(
        s["accepted"] / n_rows for s in streams
    )
    graph.unpersist()
    hetero.unpersist()
    return out


WORKLOADS = {"g500-s14-strict": g500_strict, "iterative-stream": iterative_stream}
