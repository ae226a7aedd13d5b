"""Session defaults that depend on the master's topology."""

from __future__ import annotations

from sql_graph_visualizer_spark.session import session_conf


def test_locality_wait_zero_only_on_single_host_masters():
    for master in ("local[4]", "local-cluster[1,4,1024]"):
        assert session_conf(master, 4)["spark.locality.wait"] == "0"
    assert "spark.locality.wait" not in session_conf("spark://h:7077", 4)


def test_parquet_writes_int64_microsecond_timestamps():
    conf = session_conf("local[4]", 4)
    assert conf["spark.sql.parquet.outputTimestampType"] == "TIMESTAMP_MICROS"
    assert "spark.sql.parquet.int96RebaseModeInWrite" not in conf
