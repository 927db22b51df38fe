"""Stats-clean plan truncation for iterative dataflows.

The hazard (measured, Spark 4.1): ``df.localCheckpoint(eager=True)``
truncates the PHYSICAL lineage but propagates the original plan's
*statistics* into the new ``LogicalRDD`` leaf.  Catalyst's
size-in-bytes estimator multiplies child sizes at every join
(``SizeInBytesOnlyStatsPlanVisitor``), so in an iterative loop whose
round r references round r−1's frame more than once the sizeInBytes
VALUE compounds geometrically — digits grow Fibonacci-like (~×1.6 per
round; measured 4 → 428 digits in 8 rounds of the CC shape).  After a
few dozen rounds the stats are million-digit BigIntegers and every
plan/persist call drags ``BigInteger.multiplyToomCook3`` for CPU-
minutes — the incremental-CC streaming test froze the whole suite
this way (stats compound across micro-batches too, because the
carried state's checkpoint keeps re-propagating them).

``truncate_plan`` materializes the frame (eager local checkpoint,
same semantics as before) and then rewraps the checkpointed RDD in a
FRESH ``LogicalRDD`` without origin stats, so every round restarts
from the flat ``defaultSizeInBytes`` leaf estimate.  Loops that want
a broadcast join still say so explicitly (every loop here does), so
losing the propagated estimate costs nothing.

Block lifecycle: the wrapper shares the checkpointed RDD; explicit
``unpersist()`` on the wrapper is a no-op, and superseded rounds'
blocks are reclaimed by Spark's ContextCleaner when the driver drops
the last reference (the loops rebind their variables every round, so
this happens promptly).

``truncate_plan_for`` is the one owner of the lazy-versus-eager
choice for a leaf whose row count the driver knows: lazy while that
count fits the engine's broadcast threshold (``functions/sizing.py``,
read at call time), eager past it. The reason is stated once, there.

``cached`` is the one owner of a loop's stationary input cache (the
edge table every superstep joins against): it persists the frame only
when nothing caches that plan yet, and releases only what it
persisted, in a ``finally``. A caller's own cache of the same plan is
therefore never dropped, and a failed job never leaks the entry.

The rewrap uses two JVM-internal calls (``parseDataType``,
``internalCreateDataFrame``); if a future Spark moves them, the
helper degrades to the plain eager localCheckpoint — correct, merely
re-exposed to the stats pathology at extreme round counts.
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from graph500_spark.functions import sizing

_warned_fallback = False


def truncate_plan(df: DataFrame, eager: bool = True) -> DataFrame:
    """Eagerly materialize ``df`` and return it as a leaf plan with
    RESET statistics (see module docstring).  Drop-in replacement for
    ``df.localCheckpoint(eager=True)`` in iterative loops; chainable
    as ``df.transform(truncate_plan)``."""
    ck = df.localCheckpoint(eager=eager)
    try:
        spark = ck.sparkSession
        jrdd = ck._jdf.queryExecution().toRdd()
        jschema = spark._jsparkSession.parseDataType(ck.schema.json())
        jdf = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jschema, False
        )
        return DataFrame(jdf, spark)
    except Exception:  # pragma: no cover — internal-API drift guard
        # Visible once per process: silently degrading would re-expose
        # iterative loops to the geometric stats blowup after a Spark
        # upgrade moves the two internal calls above.
        global _warned_fallback
        if not _warned_fallback:
            _warned_fallback = True
            warnings.warn(
                "truncate_plan: stats-clean rewrap unavailable on this "
                "Spark build; falling back to plain localCheckpoint "
                "(propagated-stats blowup hazard in long loops)",
                RuntimeWarning,
                stacklevel=2,
            )
        return ck


def truncate_plan_lazy(df: DataFrame) -> DataFrame:
    """Plan-truncation barrier WITHOUT the eager materialization job
    (guide §1.2/§5 — driver barriers are the per-superstep floor).

    The returned frame is a stats-clean leaf over a LAZILY
    local-checkpoint-marked RDD: the FIRST action that computes it —
    typically the loop's own per-round scalar readout (a count, a
    fixpoint probe, a broadcast build of the next round's join input)
    — materializes and caches it as a side effect, so the checkpoint
    job and the readout job collapse into one driver barrier. After
    that first action the frame behaves exactly like the eager form
    (cached leaf, truncated lineage, flat stats).

    Loops that previously paid ``truncate_plan`` (one job) + ``count``
    (a second job) per round pay ONE job with

        nxt = candidates.transform(truncate_plan_lazy)
        n = nxt.count()          # materializes + counts in one job
    """
    return truncate_plan(df, eager=False)


def truncate_plan_for(df: DataFrame, n_rows: int) -> DataFrame:
    """``truncate_plan_lazy`` while ``n_rows`` fits the broadcast
    threshold (``sizing.fits``), else ``truncate_plan``; chainable as
    ``df.transform(truncate_plan_for, n_rows)``.

    Why the choice follows the broadcast decision: a leaf whose next
    consumer is a broadcast join is materialized by that join's
    blocking broadcast build before any other consumer reads it, so
    the lazy form saves the standalone checkpoint job. Past the
    threshold the consumer is a shuffle join, nothing blocks, and a
    lazy leaf with two consumers can be computed twice by concurrent
    stages: double work, and two different results for a leaf that is
    not deterministic. The eager form is therefore the only correct
    path for inputs above the threshold."""
    if sizing.fits(n_rows):
        return truncate_plan_lazy(df)
    return truncate_plan(df)


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Cache ``df`` for the duration of the block; yields ``df``.

    ``df.storageLevel`` is looked up by plan, so a projection that is
    a no-op over a cached frame (``g.select("src", "dst")`` on a cached
    ``(src, dst)`` graph) already reads the caller's cache: then
    nothing is persisted and nothing is released. Otherwise ``df`` is
    persisted here and unpersisted on exit, also when the block
    raises."""
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df.persist()
    try:
        yield df
    finally:
        if owned:
            df.unpersist()
