"""Scoped persist() / checkpoint lifetimes — cache hygiene for a
long-lived driver.

Operators in this repo persist intermediate tables whose lifetime is one
materialization of the plan they feed (broadcast build sides, bucket
aggregates, content-payload tables). A long-lived session running many
queries (the driver contract run, a streaming job calling the candidate
join every micro-batch) would accumulate those cached blocks forever —
MEMORY_AND_DISK disk blocks are not LRU-reclaimed.

`scoped_persist(df)` persists like `df.persist()` but ALSO registers the
DataFrame with the innermost active `cache_scope()` on this thread; when
the scope exits (after the caller has materialized the consuming plan),
every registered cache is released. With no active scope the behavior is
exactly `df.persist()` — lazy library code never has to know whether its
caller manages lifetimes.

`scoped_checkpoint(df)` is the lineage-cutting variant: an EAGER
`localCheckpoint()` (it runs a Spark job when called) whose RDD blocks
are released the same way on scope exit. Use it where materialized
tables stack on each other: a persisted DataFrame's plan embeds its whole
cached plan as an InMemoryRelation child, so every downstream explain
string — rebuilt by AQE on each stage update — grows with the whole
stack, while a checkpoint is a LogicalRDD leaf. Unlike a released cache,
a released checkpoint cannot recompute: a consumer planned over it that
runs after the scope exits raises (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
With no active scope the checkpoint is left to the ContextCleaner, as
`engine/cluster.py`'s are.

Scopes are a thread-local stack: nested scopes release only their own
registrations, and concurrently-running stages (e.g. verify chunks
submitted from a thread pool) each get independent stacks.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_tls = threading.local()


def _stack() -> list[list[Callable[[], None]]]:
    s = getattr(_tls, "stack", None)
    if s is None:
        s = _tls.stack = []
    return s


def _register(release: Callable[[], None]) -> None:
    s = _stack()
    if s:
        s[-1].append(release)


def scoped_persist(df: DataFrame) -> DataFrame:
    """persist() + register with the innermost active scope (if any)."""
    df = df.persist()
    _register(df.unpersist)
    return df


def scoped_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint() + register its RDD with the innermost
    active scope (if any).

    Blocks are stored serialized (the JVM's MEMORY_AND_DISK_SER; PySpark
    levels are never deserialized): the default deserialized level sizes
    every cached row object with SizeEstimator, a reflective walk that
    cost ~0.3-0.5 s of the candidate checkpoint on a fresh JVM."""
    df = df.localCheckpoint(eager=True,
                            storageLevel=StorageLevel.MEMORY_AND_DISK)
    rdd = df._jdf.queryExecution().logical().rdd()
    _register(lambda: rdd.unpersist(False))
    return df


@contextmanager
def cache_scope():
    """Release every scoped_persist() and scoped_checkpoint() made on this
    thread inside the block once the block exits. The caller must
    materialize (or no longer need) all consuming plans before exit —
    unpersisted upstreams would otherwise recompute without their caches,
    and released checkpoints raise."""
    bucket: list[Callable[[], None]] = []
    s = _stack()
    s.append(bucket)
    try:
        yield bucket
    finally:
        s.pop()
        for release in bucket:
            try:
                release()
            except Exception:
                pass
