"""Run a streaming query to completion and hand its result back as a batch
frame: the one place the package starts a query.

Every run gets a fresh ``pyrs_stream_*`` temp dir for its checkpoint and
sink, and ``trigger(availableNow=True)``. While it runs,
``spark.sql.shuffle.partitions`` is pinned to ``defaultParallelism``:
stateful streaming shuffles are not AQE-coalesced, so that count is the
number of state-store instances, and each pays a snapshot/commit every
micro-batch. One store per slot is the right shape at any scale.

Cleanup (drop the memory sink's view, remove the temp dir) goes to the
innermost ``session.scope()``, so the result stays readable until that scope
exits; outside any scope nothing is tracked. A failed query cleans up at
once and re-raises.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from pyradiomics_spark.session import defer

_SHUFFLE = "spark.sql.shuffle.partitions"


def run_stream(df: DataFrame, output_mode: str) -> DataFrame:
    """Run streaming ``df`` and return its result as a lazy batch frame.

    The output mode picks the sink. Append writes a parquet file sink on
    the executors (a memory sink would pull every row through the driver),
    read back with ``df``'s schema so an empty result is still typed.
    Update and complete write a memory sink under a unique name; Spark's
    file sinks take append mode only."""
    spark = df.sparkSession
    writer = df.writeStream.outputMode(output_mode)
    if output_mode == "append":
        tmp = run_sink(spark, lambda tmp: writer.format("parquet")
                       .option("path", os.path.join(tmp, "out")))
        return spark.read.schema(df.schema).parquet(os.path.join(tmp, "out"))
    name = f"pyrs_stream_{uuid.uuid4().hex}"
    run_sink(spark, lambda tmp: writer.format("memory").queryName(name))
    return spark.table(name)


def run_sink(spark: SparkSession,
             build: Callable[[str], DataStreamWriter]) -> str:
    """Run the writer ``build(tmp)`` returns to completion and return
    ``tmp``, the run's temp dir, where ``build`` puts any sink files. The
    runner sets the trigger and the checkpoint location (``tmp/ckpt``)."""
    tmp = tempfile.mkdtemp(prefix="pyrs_stream_")
    query = None

    def cleanup() -> None:
        if query is not None and query.name:  # a memory sink's view
            spark.catalog.dropTempView(query.name)
        shutil.rmtree(tmp, ignore_errors=True)

    old = spark.conf.get(_SHUFFLE)
    spark.conf.set(_SHUFFLE, str(spark.sparkContext.defaultParallelism))
    try:
        query = (build(tmp).trigger(availableNow=True)
                 .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                 .start())
        query.awaitTermination()
    except BaseException:
        if query is not None:
            query.stop()
        cleanup()
        raise
    finally:
        spark.conf.set(_SHUFFLE, old)
    defer(cleanup)
    return tmp
