"""Plan-shaping helpers for degenerate input parallelism.

A Parquet file is only scan-parallel down to its row groups; a
single-row-group file (common for small exports and test fixtures) yields a
one-task scan, and every narrow transformation above it — tokenize, hash,
explode, per-row feature extraction — inherits that single task no matter
how many cores the cluster has.

``ensure_parallelism`` is the guard the CPU-heavy operators place between
the scan and their hash/tokenize stages: when the incoming plan already has
enough partitions (any real multi-file / multi-row-group dataset at scale)
it is the identity and adds nothing to the plan; only when the input is
under-partitioned does it insert one round-robin repartition, trading a
shuffle of the (small, by construction) input for full-width execution of
everything above it.

``run_overlapped`` is the other half of the story: independent Spark
actions (two index writes, two sink writes) submitted from separate
driver threads, so the FIFO scheduler back-fills one job's task tail
with the other's tasks.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import Any, Optional

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession


def ensure_parallelism(df: DataFrame, min_partitions: Optional[int] = None) -> DataFrame:
    """Repartition ``df`` up to ``min_partitions`` iff it has fewer.

    Identity on inputs that are already parallel enough — the common case
    on a cluster — so operators can call it unconditionally.

    The partition-count probe (``df.rdd.getNumPartitions()``) forces a
    physical plan conversion per call — milliseconds, but pure overhead on
    clusters whose inputs are always wide. Set
    ``spark.polario.ensureParallelism=off`` there to make this a true
    no-op; the default ``auto`` keeps the guard for small/fixture inputs.
    """
    spark = df.sparkSession
    if spark.conf.get("spark.polario.ensureParallelism", "auto") == "off":
        return df
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def run_overlapped(spark: SparkSession, *thunks: Callable[[], Any]) -> list:
    """Run ``thunks`` concurrently, one driver thread each, and return
    their results in submission order.

    Every thunk runs to completion before anything is raised: a failed
    write never leaves a sibling write running unobserved, and the
    exception that surfaces is the first failure in submission order
    (not whichever thread happened to be awaited first). Each thunk is
    wrapped in ``inheritable_thread_target(spark)`` in the CALLER's
    thread, so the jobs it launches carry the caller's local properties
    — job group and description — instead of a bare pool thread's
    empty ones.
    """
    results: list = [None] * len(thunks)
    errors: list = [None] * len(thunks)

    def run(i: int, thunk: Callable[[], Any]) -> None:
        try:
            results[i] = thunk()
        except BaseException as exc:  # noqa: BLE001 - re-raised below
            errors[i] = exc

    threads = [
        threading.Thread(target=inheritable_thread_target(spark)(run), args=(i, t))
        for i, t in enumerate(thunks)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for exc in errors:
        if exc is not None:
            raise exc
    return results
