"""Volume-derived shuffle-partition default (functions/sizing.py):
the round-11 s24 rule as engine default, engaged only above the
session width."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph500_spark.functions.sizing import (
    derived_partitions,
    resolve_shuffle_partitions,
    widen_narrow_input,
)


def test_derived_partitions_clamp():
    assert derived_partitions(0) == 32
    assert derived_partitions(64_000_000) == 32
    assert derived_partitions(67_000_000) == 33
    assert derived_partitions(268_432_547) == 134
    assert derived_partitions(2_000_000_000_000) == 512


def test_resolve_contract(spark):
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # None opts out; explicit int passes through untouched
    assert resolve_shuffle_partitions(spark, None, 10**9) is None
    assert resolve_shuffle_partitions(spark, 8, 10**9) == 8
    # auto below / at the session width: leave the session value
    assert (
        resolve_shuffle_partitions(spark, "auto", session * 2_000_000)
        is None
    )
    # auto above the rung: derived width wins (clamped)
    assert resolve_shuffle_partitions(spark, "auto", 268_000_000) == 134
    assert (
        resolve_shuffle_partitions(spark, "auto", 2_000_000_000_000)
        == 512
    )
    # auto with no count source degrades to inherit-session
    assert resolve_shuffle_partitions(spark, "auto", None, None) is None
    # count_fn consulted only when edge_count is absent
    assert (
        resolve_shuffle_partitions(
            spark, "auto", None, lambda: 268_000_000
        )
        == 134
    )
    called = []

    def boom():
        called.append(1)
        return 0

    assert resolve_shuffle_partitions(spark, 8, None, boom) == 8
    assert resolve_shuffle_partitions(spark, None, None, boom) is None
    assert called == []


def test_bfs_auto_matches_explicit(spark):
    """The auto default must not change results — same tree depths
    from the same deterministic formulation."""
    from graph500_spark.operators.bfs import bfs
    from graph500_spark.operators.graph_build import build_clean_edges
    from graph500_spark.sources.generator import generate_kronecker_edges

    clean = build_clean_edges(
        generate_kronecker_edges(spark, 8, 8)
    ).persist()
    a = sorted(map(tuple, bfs(spark, clean, 2).collect()))
    b = sorted(
        map(tuple, bfs(spark, clean, 2, shuffle_partitions=8).collect())
    )
    clean.unpersist()
    assert a == b


def test_widen_without_probe_starts_no_job(spark):
    """A width probe must never re-run a shuffle: with no ``probe``,
    an uncached plan with an exchange is returned untouched, and no
    Spark job starts (under AQE, reading its width would execute the
    exchange)."""
    df = (
        spark.range(1000)
        .select((F.col("id") % 7).alias("src"), F.col("id").alias("dst"))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sc = spark.sparkContext
    saved = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup("widen-no-probe", "widen_narrow_input width probe")
    try:
        out = widen_narrow_input(df, "src")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", saved)
    assert sc.statusTracker().getJobIdsForGroup("widen-no-probe") == []
    assert out is df
