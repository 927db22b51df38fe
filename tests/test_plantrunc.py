"""truncate_plan: the stats-clean rewrap must (a) take its fast path on
this Spark build (no fallback warning — round-7 advice), (b) preserve
rows, and (c) actually reset the propagated sizeInBytes that plain
localCheckpoint compounds geometrically through iterative rounds."""

from __future__ import annotations

import warnings

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from graph500_spark.functions.plantrunc import cached, truncate_plan


def _size_in_bytes(df) -> int:
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )


def test_fast_path_taken_and_rows_preserved(spark):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("x")
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # fallback = fail
        out = truncate_plan(df)
    assert sorted(r["x"] for r in out.collect()) == [
        2 * i for i in range(100)
    ]


def test_stats_reset_vs_plain_checkpoint_blowup(spark):
    """The CC-loop shape: round r self-joins round r−1 twice. With
    plain localCheckpoint the propagated sizeInBytes squares every
    round (digit count ~doubles); with truncate_plan it stays at the
    flat leaf estimate."""

    def round_once(df):
        a = df.select(F.col("id").alias("k"), "v")
        b = df.select(F.col("id").alias("k"), F.col("v").alias("w"))
        return (
            a.join(b, "k")
            .groupBy(F.col("k").alias("id"))
            .agg(F.max("v").alias("v"))
        )

    base = spark.range(64).select("id", F.col("id").alias("v"))
    plain = base.localCheckpoint(eager=True)
    clean = truncate_plan(base)
    plain_digits, clean_digits = [], []
    for _ in range(4):
        plain = round_once(plain).localCheckpoint(eager=True)
        clean = truncate_plan(round_once(clean))
        plain_digits.append(len(str(_size_in_bytes(plain))))
        clean_digits.append(len(str(_size_in_bytes(clean))))
    # clean stays flat; plain compounds (strictly growing digits)
    assert clean_digits[-1] == clean_digits[0]
    assert plain_digits[-1] > plain_digits[0]
    assert clean_digits[-1] < plain_digits[-1]


def test_cached_releases_only_what_it_persisted(spark):
    df = spark.range(10).select(F.col("id").alias("src"))
    with cached(df) as c:
        assert c.storageLevel != StorageLevel.NONE
    assert df.storageLevel == StorageLevel.NONE

    df.persist()
    try:
        with cached(df.select("src")):
            pass
        assert df.storageLevel != StorageLevel.NONE
    finally:
        df.unpersist()


def test_cached_releases_on_failure(spark):
    df = spark.range(10).select((F.col("id") * 3).alias("x"))
    with pytest.raises(RuntimeError):
        with cached(df):
            raise RuntimeError("job failed")
    assert df.storageLevel == StorageLevel.NONE
