"""Loaders for the driver-generated parquet tables (see /root/repo/TESTDATA.md).

Reference analogue: the arbitrary-SQL / full-table extract scans
(S1-S4 in SURVEY.md §2.1; ``internal/infrastructure/persistence/mysql/
repository.go:50-86,421-450``). Here the "database" is a directory of
parquet files and Catalyst provides pushdown/pruning natively.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one testdata table. Column pruning + predicate pushdown are
    handled by Catalyst on the parquet scan (reference had to hand-write
    WHERE/LIMIT into rule SQL — ``mysql/repository.go:427-437``)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def list_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
) -> list[str]:
    """Table listing with case-insensitive whitelist/blacklist pruning.

    Reference: S4, ``mysql/repository.go:262-319`` (INFORMATION_SCHEMA.TABLES
    + applyTableFiltering).
    """
    names = [t for t in TABLES if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))]
    if include:
        inc = {s.lower() for s in include}
        names = [t for t in names if t.lower() in inc]
    if exclude:
        exc = {s.lower() for s in exclude}
        names = [t for t in names if t.lower() not in exc]
    return names
