"""tools/check_oracle.py attributes single-partition windows to the gate
row whose plan holds them (``SERIAL-WINDOW <name>: n`` on stderr)."""

import os
import sys

from pyspark.sql import Window
from pyspark.sql import functions as F


def _serial_windows():
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from check_oracle import serial_windows

    return serial_windows


def test_serial_window_flagged_only_without_partition_spec(spark):
    serial_windows = _serial_windows()
    df = spark.range(20).withColumn("g", F.col("id") % 3)
    serial = df.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    keyed = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id")))
    assert serial_windows(serial) == 1
    assert serial_windows(keyed) == 0
    both = serial.withColumn(
        "s", F.sum("id").over(Window.partitionBy("g")))
    assert serial_windows(both) == 1
