"""Volume-derived shuffle partitioning for iterative dataflows.

The round-11 s24 knob probe (PLANS.md) pinned the rule: size an
iterative loop's shuffles to DATA VOLUME (~2M edge rows per
partition), not core count. At 268M edges, 32 partitions put ~7.5M
rows in every per-level sort-merge task — spill territory; ~2M
rows/task cut task_cpu 23% and wall 26% against the warm baseline.
AQE coalesces downstream shuffles but cannot RESIZE the loop's
explicit exchanges upward, and it never re-derives the loop's
``repartition`` width — the driver has to pick it.

``resolve_shuffle_partitions`` is that rule as the engine-wide
default ("auto") for bfs/sssp/pregel loops:

* an explicit int is used as-is (caller knows best);
* ``None`` inherits the session value (explicit opt-out — the
  documented cluster-scale posture where session tuning + AQE
  govern);
* ``"auto"`` derives ``clamp(32, n_edges / 2M, 512)`` and applies it
  ONLY when it exceeds the current session value. That guard is why
  the default is safe below the rung: at s20/s22 (8M / 67M edges)
  the derived value (32 / 33) does not exceed a 32-partition session
  and behavior is byte-identical to round 11; the override engages
  exactly where the probe measured the win (s24: 268M edges → 134).

The edge count comes from ``edge_count`` when the caller already
knows it (generators and benchmarks do — never a count job), else
from ``count_fn`` when the operator has a persisted edge table whose
materialization the count merely fronts (bfs's prepartitioned table,
pregel's cached edges); when neither is available "auto" degrades to
inherit-session rather than schedule a scan over unpersisted lineage.

The broadcast-vs-shuffle choice is the second sizing rule, and this
module is its one owner. Loop state is a checkpoint leaf with no
Catalyst statistics, so the optimizer alone would shuffle the
stationary edge table against it every round; the driver, however,
knows each side's exact row count from the round's own readout. A
side is broadcast while that count ``fits`` ``BROADCAST_ROWS`` and
shuffle-joined past it: the Spark-first analog of the reference's
frontier-size α/β switch (bfs.hpp:2799-2829, parameters.h:87-89),
one engine-wide rule rather than an option per operator. ``fits``
and ``broadcast_if_fits`` read ``BROADCAST_ROWS`` at call time, so a
test forces the shuffle regime everywhere with
``monkeypatch.setattr(sizing, "BROADCAST_ROWS", 0)``.
"""

from __future__ import annotations

from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROWS_PER_PARTITION = 2_000_000
AUTO_FLOOR = 32
AUTO_CAP = 512
BROADCAST_ROWS = 2_000_000


def fits(n_rows: int) -> bool:
    """True while a side of ``n_rows`` driver-known rows is broadcast
    (module docstring)."""
    return n_rows <= BROADCAST_ROWS


def broadcast_if_fits(df: DataFrame, n_rows: int) -> DataFrame:
    """``df`` with a broadcast hint when ``fits(n_rows)``, else as is."""
    return F.broadcast(df) if fits(n_rows) else df


def derived_partitions(n_rows: int) -> int:
    """clamp(AUTO_FLOOR, n_rows / ROWS_PER_PARTITION, AUTO_CAP)."""
    return max(AUTO_FLOOR, min(AUTO_CAP, int(n_rows) // ROWS_PER_PARTITION))


def resolve_shuffle_partitions(
    spark: SparkSession,
    requested: int | str | None,
    edge_count: int | None = None,
    count_fn: Callable[[], int] | None = None,
) -> int | None:
    """Resolve a loop's shuffle-partition override; None = leave the
    session value untouched (see module docstring for the contract)."""
    if requested is None:
        return None
    if requested != "auto":
        return int(requested)
    n = edge_count
    if n is None:
        if count_fn is None:
            return None
        n = count_fn()
    # the guard compares the UNCLAMPED requirement to the session
    # width: a small graph needs few partitions regardless of the
    # floor, and forcing floor-width shuffles onto a narrower session
    # (test sessions run 8) would widen exactly the small cases the
    # rule is not about
    need = int(n) // ROWS_PER_PARTITION
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if need <= session:
        return None
    return derived_partitions(n)


def widen_narrow_input(df, *keys: str, probe=None):
    """Hash-repartition ``df`` up to ``defaultParallelism`` when its
    current layout is NARROWER — the size-aware input for CPU-heavy
    fan-out stages (wedge joins: guide §2.5/§1.2 step 1).

    Why: a quadratic-fan-out stage (wedge enumeration) inherits its
    task count from the input layout when the optimizer broadcasts the
    other join sides — a persisted graph laid out at 8 partitions runs
    the O(Σ deg²) compute on 8 of 32 cores. One linear keyed exchange
    of the input buys full-machine parallelism for the quadratic
    stage. A WIDE input (cluster scale: thousands of scan partitions)
    is returned untouched — repartitioning it down to core count would
    be the opposite of the point.

    The width probe reads ``getNumPartitions()`` from ``probe``, a
    cached/scan-rooted frame (the persisted graph fixture, a
    checkpoint leaf) whose probe is plan-compile only — no job. With
    no ``probe``, ``df`` is probed only when it is cached; any other
    ``df`` is returned untouched, because under AQE reading the width
    of a plan with exchanges executes them. Keys must include the
    downstream join key so a later shuffle join can reuse the
    exchange (§2.4)."""
    if probe is None:
        if df.storageLevel == StorageLevel.NONE:
            return df
        probe = df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = probe.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — exotic plans: skip widening
        return df
    if cur >= target:
        return df
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)
