"""SparkSession factory.

The reference wires its engine at ``cmd/main.go:50-219`` (connect MySQL/PG,
connect Neo4j, start servers). Our analogue is one SparkSession with the
configuration that the rest of the engine assumes:

- UTC session timezone (so parquet timestamps compare exactly against the
  DuckDB oracle),
- Arrow execution enabled (all Python UDFs in this repo are pandas/Arrow
  vectorized — per-row Python is banned),
- AQE on, including skew-join handling (the explicit salting in
  ``operators/skew.py`` complements it for pathological keys),
- shuffle partitions sized to the local core count rather than the 200
  default (on a real cluster this is set per-job via spark-submit conf).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def session_conf(master: str, shuffle_partitions: int) -> dict[str, str]:
    """The Spark conf ``get_spark`` builds the session from."""
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # the engine's hot joins (LWW winners→payload, edges→nodes) are
        # equi-joins where a sort buys nothing: prefer shuffled-hash so
        # the payload is never sorted (SMJ would sort both sides)
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "zstd",
        # the engine's caches are short-lived scratch (a replay's source
        # log, signature frames) on fast local dirs: columnar cache
        # compression costs ~2x on build for bytes nobody keeps
        # (measured: 8M-event log cache build 6.9s compressed vs 4.8s
        # raw; DISK_ONLY 5.3 vs 3.4). Flip per-session for long-lived
        # memory-resident caches on storage-tight clusters.
        "spark.sql.inMemoryColumnarStorage.compressed": "false",
        # deterministic float/timestamp behaviour for the oracle compare
        "spark.sql.parquet.datetimeRebaseModeInWrite": "CORRECTED",
        "spark.sql.parquet.int96RebaseModeInWrite": "CORRECTED",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # throughput-batch engine: ParallelGC sustains allocation-heavy
        # scan/parse work far better than G1 at high thread counts
        # (measured 2x on 32-core JSON ingest; G1 young-gen handling was
        # the JVM bottleneck)
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
        "spark.ui.enabled": "false",
    }
    if master.startswith("local"):
        # single-box topologies (local[N] and local-cluster) have no
        # remote reads worth waiting for, but cached/disk blocks pin task
        # preferences to executors — with two jobs sharing the executors
        # (the replay pipelines epoch N+1's prepare under epoch N's
        # write) the default 3s locality wait serializes them in
        # multi-second stalls. Multi-node masters keep Spark's default.
        conf["spark.locality.wait"] = "0"
    return conf


def get_spark(
    app_name: str = "sql-graph-visualizer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the same code runs unchanged under ``spark-submit --master yarn``
    on a real cluster, where ``master`` stays None and the cluster
    manager decides.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] / cluster masters → env cpu count
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else cpus

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**session_conf(master, shuffle_partitions), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
