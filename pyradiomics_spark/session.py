"""SparkSession builder with scale-oriented defaults.

Local defaults mirror what we'd set on a real cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow enabled for
the pandas-UDF kernel boundary, and bounded Arrow batch sizes so kernel
groups stay memory-resident (the analog of the reference's ``voxelBatch``
memory control, /root/reference/radiomics/base.py:214-237).

``checkpoint``/``cache`` are the only places the engine pins data in the
session; ``release`` and ``scope()`` give it back. ``defer`` hands any other
cleanup (a streaming run's memory view and temp dir) to the same scope.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

# one list of owned frames and cleanups per open scope, innermost last
_SCOPES: ContextVar[tuple] = ContextVar("pyrs_scopes", default=())


def get_spark(
    app_name: str = "pyradiomics_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)

    # Pin BLAS/OpenMP to 1 thread per Python worker — N workers × M-thread
    # BLAS pools thrash badly (the reference pins SimpleITK the same way,
    # scripts/segment.py:161). Kernels are tiny-matrix numpy; parallelism
    # comes from Spark tasks, not BLAS. Must be set before the JVM/daemon
    # forks so every worker inherits it.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # AQE: runtime coalescing, skew-join split — core of our skew story
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow is the JVM↔Python kernel boundary; batch size bounds memory
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def _own(x):
    if _SCOPES.get():
        _SCOPES.get()[-1].append(x)
    return x


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint``, owned by the innermost open ``scope()``."""
    return _own(df.localCheckpoint(eager=True))


def cache(df: DataFrame) -> DataFrame:
    """Lazy ``cache()``, owned by the innermost open ``scope()``."""
    return _own(df.cache())


def release(df: DataFrame) -> None:
    """Free the blocks ``df``'s cache or checkpoint pins, non-blocking; a
    no-op for any other frame. ``unpersist()`` does nothing for a local
    checkpoint: its blocks belong to the JVM ``LogicalRDD``'s RDD, and a
    later read of the released frame fails."""
    plan = df._jdf.queryExecution().logical()
    if df.is_cached:
        df.unpersist()
    elif plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def defer(cleanup: Callable[[], None]) -> None:
    """Run ``cleanup`` when the innermost open ``scope()`` exits; outside
    any scope, never (nothing is tracked there, as with ``checkpoint``)."""
    _own(cleanup)


@contextmanager
def scope():
    """On exit, also on an exception, release what ``checkpoint``/``cache``
    made and run what ``defer`` was given while this was the innermost
    scope. Usable as a decorator."""
    owned: list = []
    token = _SCOPES.set(_SCOPES.get() + (owned,))
    try:
        yield
    finally:
        _SCOPES.reset(token)
        for x in owned:
            if isinstance(x, DataFrame):
                release(x)
            else:
                x()
