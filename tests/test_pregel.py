"""Tests for the generic Pregel superstep engine and the
label-propagation vertex program built on it."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph500_spark.operators.graph_build import build_clean_edges
from graph500_spark.operators.pregel import label_propagation, pregel


def _clean(spark, pairs):
    return build_clean_edges(
        spark.createDataFrame(pairs, "src: long, dst: long")
    )


class TestLabelPropagation:
    def test_converges_to_component_max(self, spark):
        # two components: {0,1,2} (max 2) and {10,11} (max 11)
        g = [(0, 1), (1, 2), (10, 11)]
        out = label_propagation(spark, _clean(spark, g), n_supersteps=5)
        labels = {r.vertex: r.label for r in out.collect()}
        assert labels == {0: 2, 1: 2, 2: 2, 10: 11, 11: 11}

    def test_partial_rounds_propagate_one_hop_per_step(self, spark):
        # path 0-1-2-3-4: after 1 superstep vertex 0 has only seen
        # vertex 1's initial label
        path = [(i, i + 1) for i in range(4)]
        out = label_propagation(spark, _clean(spark, path), n_supersteps=1)
        labels = {r.vertex: r.label for r in out.collect()}
        assert labels[0] == 1 and labels[3] == 4 and labels[4] == 4

    def test_unbounded_run_stops_at_fixpoint(self, spark):
        edges = _clean(spark, [(0, 1), (1, 2)])
        verts = (
            edges.select(F.col("src").alias("vertex"))
            .distinct()
            .withColumn("label", F.col("vertex"))
        )
        sends = []

        def send(e):
            sends.append(1)  # the driver builds one send per superstep
            return e.select(
                F.col("dst").alias("vertex"), F.col("label").alias("msg")
            )

        def apply_fn(old, inbox):
            new = F.greatest("label", F.coalesce("max_msg", F.col("label")))
            return old.join(inbox, "vertex", "left").select(
                "vertex",
                new.alias("label"),
                (new != F.col("label")).alias("chg"),
            )

        out = pregel(
            spark,
            edges.select("src", "dst"),
            verts,
            send,
            [F.max("msg").alias("max_msg")],
            apply_fn,
            n_supersteps=None,
        )
        assert {r.vertex: r.label for r in out.collect()} == {
            0: 2,
            1: 2,
            2: 2,
        }
        # two supersteps change labels, the third sees no change
        assert len(sends) == 3

    def test_changing_state_runs_every_superstep(self, spark):
        """A sum program whose state changes every superstep runs
        exactly ``n_supersteps`` of them, matching a driver-side loop."""
        edges = _clean(spark, [(0, 1), (1, 2)])
        verts = spark.createDataFrame(
            [(v, 0) for v in range(3)], "vertex: long, x: long"
        )
        sends = []

        def send(e):
            sends.append(1)
            return e.select(
                F.col("dst").alias("vertex"), F.col("x").alias("msg")
            )

        def apply_fn(old, inbox):
            new = F.col("x") + 1 + F.coalesce("msg", F.lit(0))
            return old.join(inbox, "vertex", "left").select(
                "vertex",
                new.cast("long").alias("x"),
                (new != F.col("x")).alias("chg"),
            )

        out = pregel(
            spark,
            edges.select("src", "dst"),
            verts,
            send,
            [F.sum("msg").alias("msg")],
            apply_fn,
            n_supersteps=4,
            active_only=False,
        )
        x = {0: 0, 1: 0, 2: 0}
        nbrs = {0: [1], 1: [0, 2], 2: [1]}
        for _ in range(4):
            x = {v: x[v] + 1 + sum(x[u] for u in nbrs[v]) for v in x}
        assert {r.vertex: r.x for r in out.collect()} == x
        assert len(sends) == 4
