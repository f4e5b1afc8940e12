"""The streaming runner (streaming/runner.py) owns every streaming run: each
``stream_*`` gate row, run inside ``scope()`` and consumed, leaves no temp
view, no ``pyrs_*`` temp dir, no persistent RDD and no changed conf; a
failed query re-raises and leaves nothing either."""

import glob
import os
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as e
from pyradiomics_spark.session import scope
from pyradiomics_spark.streaming.runner import run_stream

STREAM_ROWS = [n for n in e.queries() if n.startswith("stream_")]


def _state(spark) -> tuple:
    return (set(spark.sparkContext._jsc.getPersistentRDDs().keySet()),
            {t.name for t in spark.catalog.listTables() if t.isTemporary},
            set(glob.glob(os.path.join(tempfile.gettempdir(), "pyrs_*"))),
            spark.conf.get("spark.sql.shuffle.partitions"))


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    """An events table with the generator's schema and shape: 1000 events
    of 15 users over 30 days, five event types, sorted by ts."""
    rng = np.random.default_rng(3)
    n = 1000
    ts = np.sort(pd.Timestamp("2024-01-01").value // 1000
                 + rng.integers(0, 30 * 86400 * 10**6, n))
    d = tmp_path_factory.mktemp("stream_rows")
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n), pa.int64()),
        "event_type": rng.choice(
            ["click", "purchase", "error", "signup", "view"], n).tolist(),
        "value": np.round(rng.uniform(0, 200, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}),
        d / "events.parquet")
    return str(d)


def test_every_streaming_gate_row_is_listed():
    assert len(STREAM_ROWS) == 10


@pytest.mark.parametrize("name", STREAM_ROWS)
def test_streaming_gate_row_leaves_nothing_behind(spark, sf_dir, name):
    before = _state(spark)
    with scope():
        n = e.queries()[name](spark, sf_dir).count()
    assert n > 0
    after = _state(spark)
    assert after[0] - before[0] == set(), "persistent RDDs"
    assert after[1] - before[1] == set(), "temp views"
    assert after[2] - before[2] == set(), "pyrs_* temp dirs"
    assert after[3] == before[3], "spark.sql.shuffle.partitions"


@pytest.mark.parametrize("mode", ["append", "update"])
def test_failed_run_reraises_and_leaves_nothing(spark, tmp_path, mode):
    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)

    def boom(batches):  # local, so workers unpickle it by value
        for _ in batches:
            raise ValueError("boom from the stream")
        yield from ()

    failing = stream.mapInPandas(boom, "id long")
    before = _state(spark)
    with pytest.raises(Exception, match="boom from the stream"):
        with scope():
            run_stream(failing, mode)
    assert _state(spark) == before
    assert not spark.streams.active


def test_result_readable_until_scope_exits(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(7).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    before = _state(spark)
    with scope():
        appended = run_stream(stream, "append")
        counted = run_stream(stream.groupBy().count(), "complete")
        assert appended.count() == 7
        assert counted.first()["count"] == 7
        assert len(_state(spark)[2] - before[2]) == 2  # one dir per run
    assert _state(spark) == before
    with pytest.raises(Exception):
        appended.where(F.col("id") > 0).count()
