"""Shared Spark session for tests: small local parallelism, UTC, Arrow;
and the helpers several test modules share."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from sql_graph_visualizer_spark.lake.snapshot_table import SnapshotTable
from sql_graph_visualizer_spark.session import get_spark

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
KEYS = ["conv_id", "turn_idx"]


def _table(spark, tmp_path, name="t", buckets=8):
    return SnapshotTable.create(
        spark, os.path.join(str(tmp_path), name), SCHEMA, KEYS, num_buckets=buckets
    )


def _jobs(spark) -> int:
    """Jobs the DAG scheduler has started in this session so far."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
