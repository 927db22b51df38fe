"""Serialized session-conf scoping for iterative loops.

Several operators scope ``spark.sql.shuffle.partitions`` (and the BPE
loop also AQE) around their driver loops and restore the old value
afterwards. Session confs are SESSION-wide, so two such operators
running on concurrent driver threads (the corpus pipeline's
stage-overlap pool, guide §2.6; any user thread pool) would race:
one thread's scoped width re-plans the other thread's stages
nondeterministically.

``scoped_session_confs`` is the only API: a context manager that sets
the confs, runs the block, and restores them, all under a
process-wide reentrant lock. Concurrent scopers SERIALIZE (the second
blocks until the first restores), nested scoping on one thread is
fine (RLock), and operators that don't scope confs are unaffected.
The lock is held for the duration of the loop — that is the point:
a conf-scoped loop's plans must not interleave with another scoper.
Because acquisition is a ``with`` block, no statement can run between
taking the lock and the ``finally`` that releases it: a Spark job that
fails inside the block still restores the confs and frees the lock.

Reentrancy note: an outer scope that sets a conf and an inner scope
that sets it again compose correctly — each restores what IT saw.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_session_confs(spark: SparkSession, confs: dict[str, object]):
    """Set session confs for the duration of the block, restoring the
    previous values after; concurrent scopers serialize on a global
    reentrant lock. ``confs`` values are applied as strings; a
    ``None`` value leaves that conf alone (an operator's "no
    override"), and a dict with nothing to set is a no-op that takes
    no lock."""
    confs = {k: v for k, v in confs.items() if v is not None}
    if not confs:
        yield
        return
    with _CONF_LOCK:
        saved = {k: spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, str(v))
            yield
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
